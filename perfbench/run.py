"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. Human-readable lines come first; the
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(CHECKOUT))

from perfbench import gen, metrics, stats, trace, workloads  # noqa: E402

TIMED_GROUP = "perfbench-timed"


def process_start() -> float:
    """Wall-clock time at which this process was created."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_cpu_seconds(pid: int | str = "self") -> float:
    """CPU time (user + system) of process ``pid`` and every descendant
    alive now, plus that of the descendants they have already reaped.

    The Spark JVM is a child of this process and PySpark's Python workers
    are children of the JVM, so the tree holds all the program's CPU. A
    worker that exits between two readings moves into its parent's
    reaped-children time, so the difference of two readings loses
    nothing."""
    ticks = 0
    todo = [str(pid)]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(v) for v in fields[11:15])
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(f.read().split())
        except FileNotFoundError:
            continue  # exited (and reaped) while being read
    return ticks / os.sysconf("SC_CLK_TCK")


def source_digest() -> str:
    """The commit when the checkout is a git work tree, else a digest of
    the program's sources (benchmark checkouts carry no .git)."""
    head = CHECKOUT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = CHECKOUT / ".git" / ref[5:]
            if ref_file.exists():
                return ref_file.read_text().strip()
        return ref
    h = hashlib.sha256()
    for p in sorted((CHECKOUT / "dagster_etl_spark").rglob("*")):
        if p.is_file() and p.suffix in (".py", ".yaml"):
            h.update(p.relative_to(CHECKOUT).as_posix().encode())
            h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:16]


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def timed_jobs_untraced(reader: trace.StageReader) -> trace.Span:
    """The timed phase's jobs and counters, read from its one job group."""
    span = trace.Span(id=-1, name="phase.timed", parent=None, op=None, depth=0, start=0.0)
    reader.drain()
    reader.read_group(TIMED_GROUP, span)
    return span


def layer_metrics(tracer: trace.Tracer, setup: trace.Span, timed: trace.Span,
                  cores: int, n_ops: int, overhead_s: float) -> dict[str, float]:
    selfs = trace.self_times(tracer.spans)
    pools = {"setup": tracer.subtree(setup), "timed": tracer.subtree(timed)}
    out: dict[str, float] = {}
    for name in metrics.SPANS:
        pool = pools["setup" if name in metrics.SETUP_SPANS else "timed"]
        mine = [s for s in pool if s.name == name]
        out[f"{name}_s"] = sum(s.end - s.start for s in mine)
        out[f"{name}.self_s"] = sum(selfs[s.id] for s in mine)
        if name in metrics.COUNTED_SPANS:
            out[f"{name}.calls"] = len(mine)
    spans = pools["timed"]
    total = {k: sum(s.spark[k] for s in spans) for k in trace.SPARK_COUNTERS}
    ops = [s for s in spans if s.name.startswith("op.")]
    op_wall = sum(s.end - s.start for s in ops)
    gap = 0.0
    for op in ops:
        windows = [w for s in tracer.subtree(op) for w in s.stage_windows]
        gap += (op.end - op.start) - trace.covered(windows, op.start, op.end)
    upserts = [s for s in spans if s.name == "writers.upsert"]
    rewritten = sum(t.spark["output_records"] for u in upserts for t in tracer.subtree(u))
    inserted = sum(u.attrs.get("rows_inserted", 0.0) for u in upserts)
    out.update({
        "spark.jobs": total["jobs"],
        "spark.stages": total["stages"],
        "spark.tasks": total["tasks"],
        "spark.driver_gap_s": gap,
        "spark.busy_ratio": total["run_ms"] / 1000.0 / (op_wall * cores) if op_wall else 0.0,
        "spark.shuffle_bytes": total["shuffle_bytes"],
        "spark.spill_bytes": total["spill_bytes"],
        "spark.gc_s": total["gc_ms"] / 1000.0,
        "spark.input_bytes": total["input_bytes"],
        "spark.output_bytes": total["output_bytes"],
        "writers.rewrite_ratio": rewritten / inserted if inserted else 0.0,
        "streaming.slicestore.files_read": sum(s.attrs.get("files_read", 0.0) for s in spans),
        "plans.cache.released": sum(s.attrs.get("released", 0.0) for s in ops) / max(n_ops, 1),
        "trace.wall_s": timed.end - timed.start,
        "trace.overhead_s": overhead_s,
    })
    return out


def layer_report(tracer: trace.Tracer, timed: trace.Span) -> list[str]:
    """Self time per module layer over the timed phase, largest first."""
    selfs = trace.self_times(tracer.spans)
    by_layer: dict[str, float] = {}
    for s in tracer.subtree(timed):
        layer = s.name.split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + selfs[s.id]
    total = sum(by_layer.values()) or 1.0
    return [
        f"self-time {layer:<14} {sec:9.3f} s  {100 * sec / total:5.1f}%"
        for layer, sec in sorted(by_layer.items(), key=lambda kv: -kv[1])
    ]


def write_trace(path: Path, tracer: trace.Tracer, context: dict) -> None:
    selfs = trace.self_times(tracer.spans)
    spans = [
        {
            "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
            "start": s.start, "end": s.end, "self_s": selfs[s.id],
            "jobs": s.jobs, "spark": s.spark, "attrs": s.attrs,
        }
        for s in tracer.spans
    ]
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({"context": context, "spans": spans}, indent=1) + "\n")


def main(argv: list[str]) -> int:
    t_process = process_start()
    args = parse_args(argv)
    if importlib.util.find_spec("dagster_etl_spark") is None:
        fail(f"the program (dagster_etl_spark) is not in {CHECKOUT}")
    from dagster_etl_spark.sources.fixtures import DEFAULT_SF_DIR

    fixtures = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
    if not os.path.isdir(f"{fixtures}/sf0.1") or not os.path.isdir(f"{fixtures}/sf0.01"):
        fail(f"fixture tables not found under {fixtures}")

    cores = len(os.sched_getaffinity(0))
    root = CHECKOUT / "perfbench" / ".runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (root / sub).mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(root / "spark-local"),
        TMPDIR=str(root / "tmp"),
    )
    try:
        return run(args, t_process, fixtures, cores, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run(args, t_process: float, fixtures: str, cores: int, root: Path) -> int:
    load1_before = os.getloadavg()[0]
    rounds = workloads.rounds_for(args.workload, args.seconds)
    t_gen = time.time()
    inputs = gen.generate(args.workload, args.seed, fixtures, str(root / "inputs"), rounds)
    gen_s = time.time() - t_gen
    # The generator's memory is the benchmark's, not the program's.
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")

    from dagster_etl_spark.session import get_spark

    tracer = trace.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("phase.setup") as setup_span:
            with tracer.span("session.start"):
                spark = get_spark(
                    f"perfbench-{args.workload}",
                    extra_conf={
                        "spark.sql.warehouse.dir": str(root / "warehouse"),
                        # keep the JVM's temp files (and no hsperfdata) out of /tmp
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={root / 'tmp'} -XX:-UsePerfData",
                    },
                )
                tracer.bind(spark)
                spark.range(1_000_000).selectExpr("sum(id)").collect()
            if args.trace:
                trace.install(tracer)
            work = workloads.WORKLOADS[args.workload](spark, tracer, inputs, str(root), args.seed)
            work.setup()
        setup_s = time.time() - t_process - gen_s

        reader = trace.StageReader(spark)
        reader.drain()
        first_job = reader.next_job_id()
        overhead0 = tracer.overhead_s
        if not args.trace:
            spark.sparkContext.setLocalProperty(trace.JOB_GROUP, TIMED_GROUP)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        steal0, ticks0 = cpu_ticks()
        cpu0 = tree_cpu_seconds()
        t0 = time.perf_counter()
        with tracer.span("phase.timed") as timed_span:
            for r in range(rounds):
                work.round(r)
        wall_s = time.perf_counter() - t0
        cpu_s = tree_cpu_seconds() - cpu0
        steal1, ticks1 = cpu_ticks()
        spark.sparkContext.setLocalProperty(trace.JOB_GROUP, None)
        overhead_s = tracer.overhead_s - overhead0
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")

        reader.drain()
        last_job = reader.next_job_id()
        if args.trace:
            timed_spans = tracer.subtree(timed_span)
        else:
            timed_spans = [timed_jobs_untraced(reader)]
        jobs = sorted(j for s in timed_spans for j in s.jobs)
        if jobs != list(range(first_job, last_job)):
            missing = sorted(set(range(first_job, last_job)) - set(jobs))
            raise RuntimeError(
                f"Spark jobs not attributed to exactly one span: missing {missing[:10]}, "
                f"{len(jobs) - len(set(jobs))} attributed twice"
            )
        output_bytes = sum(s.spark["output_bytes"] for s in timed_spans)
        roots = work.storage_roots()
        stored = workloads.du(roots)

        t_verify = time.perf_counter()
        problems = work.verify()
        verify_s = time.perf_counter() - t_verify
        versions = {
            "spark": spark.version,
            "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        if spark is not None:
            stop_session(spark)

    def bad(label: str) -> bool:
        return any(label == p or label.startswith(p + "/") for p in problems)

    ops = work.ops
    failed = sum(1 for o in ops if o.raised or bad(o.label))
    reads = [o.seconds for o in ops if o.kind == "read"]
    writes = [o.seconds for o in ops if o.kind == "write"]
    input_bytes = inputs.bytes
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rounds": rounds, "nproc": cores,
        "load1_before": load1_before, "load1_after": os.getloadavg()[0],
        "commit": source_digest(), **versions,
        "input_rows": inputs.rows, "input_bytes": input_bytes,
        "gen_s": round(gen_s, 3), "verify_s": round(verify_s, 3), "jobs": len(jobs),
        "steal_pct": round(100.0 * (steal1 - steal0) / max(ticks1 - ticks0, 1), 2),
    }
    print("context " + json.dumps(context))
    print("ops " + json.dumps([[o.kind, o.label, round(o.seconds, 4), o.raised] for o in ops]))
    for label, problem in sorted(problems.items()):
        print(f"verify FAIL {label}: {problem}")

    e2e = {"setup_s": setup_s, "cpu_s": cpu_s}
    print(f"metric setup_s {setup_s:.3f} s (input generation {gen_s:.3f} s excluded)")
    print(f"metric cpu_s {cpu_s:.3f} s (CPU time of the Python driver, the Spark JVM and "
          f"its Python workers in the timed phase)")
    print(f"metric wall_s {wall_s:.3f} s over {inputs.rows} input rows, {input_bytes} input bytes, "
          f"{rounds} round(s)")
    if reads:
        print(f"metric read_p50_s {stats.median(reads):.4f} s over {len(reads)} reads")
        tail = stats.tail(reads)
        if tail is None:
            print(f"metric read_tail_s n/a s: {len(reads)} reads; a tail above p50 with "
                  f"{stats.TAIL_MIN_BEYOND} reads beyond it needs {2 * stats.TAIL_MIN_BEYOND + 1}")
        else:
            print(f"metric read_tail_s {tail[1]:.4f} s at p{tail[0]:.1f} of {len(reads)} reads")
    if writes:
        print(f"metric write_p50_s {stats.median(writes):.4f} s over {len(writes)} writes")
        print(f"metric write_amp {output_bytes / input_bytes:.4f} ratio "
              f"({output_bytes} Spark output bytes / {input_bytes} input bytes)")
    print(f"metric fail_ratio {failed / len(ops):.4f} ratio ({failed} of {len(ops)} ops)")
    if roots:
        print(f"metric space_amp {stored / input_bytes:.4f} ratio "
              f"({stored} bytes stored / {input_bytes} input bytes)")
    print(f"metric peak_rss_mb {peak_rss_mb:.1f} MB (Spark JVM + Python VmHWM)")

    if args.trace:
        values = layer_metrics(tracer, setup_span, timed_span, cores, len(ops), overhead_s)
        units = metrics.PER_LAYER
        for line in layer_report(tracer, timed_span):
            print(line)
        out = CHECKOUT / "perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json"
        write_trace(out, tracer, context)
        print(f"trace written to {out.relative_to(CHECKOUT)}")
    else:
        values, units = e2e, metrics.END_TO_END
    result = {
        "correct": not problems and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
