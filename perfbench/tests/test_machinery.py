"""Tests for the benchmark's own machinery (not for the program it runs).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import gen, metrics, stats, trace, workloads
from perfbench.run import layer_metrics, tree_cpu_seconds

CHECKOUT = Path(__file__).resolve().parents[2]


def _fixtures() -> str:
    from dagster_etl_spark.sources.fixtures import DEFAULT_SF_DIR

    root = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
    if not os.path.isdir(f"{root}/sf0.1"):
        pytest.skip("fixture tables not present")
    return root


def _digests(inputs: gen.Inputs) -> list[str]:
    return [hashlib.sha256(Path(f).read_bytes()).hexdigest() for f in inputs.files]


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    fixtures = _fixtures()
    a = gen.generate(workload, 7, fixtures, str(tmp_path / "a"))
    b = gen.generate(workload, 7, fixtures, str(tmp_path / "b"))
    c = gen.generate(workload, 8, fixtures, str(tmp_path / "c"))
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)
    assert a.rows == c.rows > 0


def test_etl_events_land_on_the_chosen_ship_dates(tmp_path):
    inputs = gen.generate("etl_daily", 3, _fixtures(), str(tmp_path))
    assert len(inputs.dates) == gen.ETL_DAYS
    days = pq.read_table(f"{inputs.root}/events.parquet").column("ts").to_numpy()
    event_days = {str(d) for d in days.astype("datetime64[D]")}
    assert event_days == set(inputs.dates)
    ship = pq.read_table(f"{inputs.root}/lineitem.parquet").column("l_shipdate").to_numpy()
    ship_days = {str(d) for d in ship.astype("datetime64[D]")}
    assert set(inputs.dates) <= ship_days


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 10) is None
    # 11-20 samples: the percentile with ten beyond is at or below p50
    assert stats.tail([float(i) for i in range(11, 0, -1)]) is None
    assert stats.tail([float(i) for i in range(20)]) is None
    pct, value = stats.tail([float(i) for i in range(21, 0, -1)])
    assert value == 11.0 and pct == pytest.approx(100 * 11 / 21)
    pct, value = stats.tail([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)
    # exactly ten samples lie beyond the reported value
    values = [float(i) for i in range(37)]
    _, value = stats.tail(values)
    assert sum(v > value for v in values) == 10


BUSY_CHILD = """
import sys, time
t = time.process_time()
while time.process_time() - t < 0.5:
    pass
sys.stdout.write("busy done\\n")
sys.stdout.flush()
time.sleep(30)
"""


def test_tree_cpu_counts_live_and_reaped_descendants():
    before = tree_cpu_seconds()
    # a grandchild that burns CPU and stays alive: found by walking the tree
    outer = subprocess.Popen(
        [sys.executable, "-c", f"import subprocess, sys; subprocess.run([sys.executable, "
                               f"'-c', {BUSY_CHILD!r}])"],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        assert outer.stdout.readline() == "busy done\n"
        assert tree_cpu_seconds() - before >= 0.45
    finally:
        os.killpg(outer.pid, signal.SIGKILL)
        outer.wait()
    # a child that burned CPU and was reaped: counted in this process's
    # reaped-children time
    before = tree_cpu_seconds()
    subprocess.run([sys.executable, "-c", BUSY_CHILD.replace("time.sleep(30)", "")],
                   check=True, capture_output=True)
    assert tree_cpu_seconds() - before >= 0.45


def _span(i, name, parent, start, end, depth=0):
    return trace.Span(id=i, name=name, parent=parent, op=None, depth=depth, start=start, end=end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "root", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0, 1),
        _span(2, "b", 0, 3.0, 6.0, 1),  # overlaps a: the union is [1, 6]
        _span(3, "c", 2, 3.5, 4.5, 2),
        _span(4, "d", 0, 8.0, 12.0, 1),  # runs past the root's end
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(4.0)


def test_covered_clips_and_merges():
    assert trace.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert trace.covered([], 0, 1) == 0.0


def test_jobs_go_to_the_innermost_span(tmp_path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
        .getOrCreate()
    )
    try:
        tracer = trace.Tracer(enabled=True)
        tracer.bind(spark)
        reader = trace.StageReader(spark)

        def run(n: int) -> list[int]:
            """Job ids one action started."""
            reader.drain()
            lo = reader.next_job_id()
            spark.range(n).count()
            reader.drain()
            return list(range(lo, reader.next_job_id()))

        with tracer.span("outer") as outer:
            want_outer = run(10)
            with tracer.span("inner") as inner:
                want_inner = run(20)
                with tracer.span("innermost") as innermost:
                    want_innermost = run(30)
            want_outer += run(40)
        assert innermost.jobs == want_innermost
        assert inner.jobs == want_inner
        assert outer.jobs == want_outer
        assert all(s.spark["tasks"] > 0 for s in (outer, inner, innermost))
    finally:
        spark.stop()


def test_layer_metrics_emit_every_per_layer_name():
    tracer = trace.Tracer(enabled=True)
    setup = _span(0, "phase.setup", None, 0.0, 1.0)
    timed = _span(1, "phase.timed", None, 1.0, 3.0)
    op = trace.Span(id=2, name="op.read", parent=1, op=0, depth=1, start=1.0, end=2.0)
    tracer.spans = [setup, timed, op]
    values = layer_metrics(tracer, setup, timed, cores=4, n_ops=1, overhead_s=0.0)
    assert set(values) == set(metrics.PER_LAYER)


def test_metric_names_match_benchmark_json():
    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert next(m for m in spec["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in spec["end_to_end"]
    )
