"""Tests for schema utils (§1.3), lake IO path contract (S4-S7) and the
keyed upsert writer (S9) including the reference's edge semantics."""

from __future__ import annotations

import datetime as dt
import threading

import pytest
from pyspark.sql import Row

from dagster_etl_spark.plans.schema_utils import (
    apply_schema,
    create_schema,
    detect_schema_drift,
    validate_schema,
)
from dagster_etl_spark.sources.lake import (
    check_exists,
    delete_path,
    list_partitions,
    partition_path,
    read_partition,
    write_partition,
)
from dagster_etl_spark.writers.upsert import upsert_parquet, with_tenant


# --- schema utils ----------------------------------------------------------

def test_create_validate_drift_apply(spark):
    schema = create_schema([("lot_id", "string"), ("qty", "bigint"), ("ts", "timestamp")])
    df = spark.createDataFrame(
        [Row(lot_id="L1", qty="12", extra=1.0), Row(lot_id="L2", qty="oops", extra=2.0)]
    )
    v = validate_schema(df, schema)
    assert not v.valid and v.missing == ["ts"] and v.extra == ["extra"]

    drift = detect_schema_drift(schema, create_schema([("lot_id", "string"), ("qty", "double")]))
    assert drift.removed == ["ts"] and drift.type_changed == [("qty", "bigint", "double")]
    assert not drift.added

    out = apply_schema(df, schema)
    rows = out.collect()
    assert out.columns == ["lot_id", "qty", "ts"]
    assert rows[0].qty == 12 and rows[1].qty is None  # coercive cast
    assert rows[0].ts is None  # missing column -> null


# --- lake path contract ----------------------------------------------------

def test_partition_path_scheme(tmp_path):
    assert (
        partition_path("/lake", "t1", "extract", "lot_history", "2026-08-13")
        == "/lake/project_id=t1/extract/job_name=lot_history/date=20260813"
    )
    assert (
        partition_path("/lake", "t1", "extract", "item_master", None)
        == "/lake/project_id=t1/extract/job_name=item_master/latest"
    )


def test_lake_roundtrip_and_listing(spark, tmp_path):
    base = str(tmp_path / "lake")
    df = spark.createDataFrame([Row(a=1), Row(a=2)])
    for d in ["2026-08-11", "2026-08-13", "2026-08-12"]:
        write_partition(df, base, "t1", "extract", "job", d)
    assert list_partitions(spark, base, "t1", "extract", "job") == [
        "20260811",
        "20260812",
        "20260813",
    ]
    back = read_partition(spark, base, "t1", "extract", "job", "2026-08-12")
    assert back.count() == 2
    p = partition_path(base, "t1", "extract", "job", "2026-08-12")
    assert check_exists(spark, p)
    assert delete_path(spark, p)
    assert not check_exists(spark, p)
    assert list_partitions(spark, base, "t1", "extract", "job") == ["20260811", "20260813"]


# --- upsert writer ---------------------------------------------------------

UPSERT_SCHEMA = "k1 string, k2 bigint, val string"


def _rows(*tuples):
    return [Row(k1=a, k2=b, val=c) for a, b, c in tuples]


@pytest.fixture()
def target_path(tmp_path):
    return str(tmp_path / "warehouse" / "aps_input_wip")


def test_upsert_insert_then_replace(spark, target_path):
    first = spark.createDataFrame(_rows(("a", 1, "v1"), ("b", 2, "v2")))
    stats = upsert_parquet(spark, first, target_path, keys=["k1", "k2"])
    assert stats == {"deleted": 0, "inserted": 2}

    second = spark.createDataFrame(_rows(("a", 1, "v1-new"), ("c", 3, "v3")))
    stats = upsert_parquet(spark, second, target_path, keys=["k1", "k2"])
    assert stats == {"deleted": 1, "inserted": 2}
    data = {(r.k1, r.k2): r.val for r in spark.read.parquet(target_path).collect()}
    assert data == {("a", 1): "v1-new", ("b", 2): "v2", ("c", 3): "v3"}


def test_upsert_idempotent_rerun(spark, target_path):
    batch = spark.createDataFrame(_rows(("a", 1, "v1"), ("b", 2, "v2")))
    upsert_parquet(spark, batch, target_path, keys=["k1", "k2"])
    upsert_parquet(spark, batch, target_path, keys=["k1", "k2"])  # same partition re-run
    rows = sorted(tuple(r) for r in spark.read.parquet(target_path).collect())
    assert rows == [("a", 1, "v1"), ("b", 2, "v2")]


def test_upsert_null_keys_match(spark, target_path):
    """NULL key values must match NULL target keys (reference IS NULL
    branch, trino.py:206-207)."""
    first = spark.createDataFrame(_rows((None, 1, "old"), ("b", 2, "keep")), UPSERT_SCHEMA)
    upsert_parquet(spark, first, target_path, keys=["k1", "k2"])
    second = spark.createDataFrame(_rows((None, 1, "new")), UPSERT_SCHEMA)
    stats = upsert_parquet(spark, second, target_path, keys=["k1", "k2"])
    assert stats == {"deleted": 1, "inserted": 1}
    data = {(r.k1, r.k2): r.val for r in spark.read.parquet(target_path).collect()}
    assert data == {(None, 1): "new", ("b", 2): "keep"}


def test_upsert_duplicate_source_keys_insert_duplicates(spark, target_path):
    """Delete-then-insert != update: duplicate keys in one batch both
    land (reference behavior, SURVEY §7.2)."""
    first = spark.createDataFrame(_rows(("a", 1, "old")))
    upsert_parquet(spark, first, target_path, keys=["k1", "k2"])
    dup = spark.createDataFrame(_rows(("a", 1, "x"), ("a", 1, "y")))
    stats = upsert_parquet(spark, dup, target_path, keys=["k1", "k2"])
    assert stats == {"deleted": 1, "inserted": 2}
    vals = sorted(r.val for r in spark.read.parquet(target_path).collect())
    assert vals == ["x", "y"]


# case -> (target rows before the upsert, None when there is no target; source rows)
UPSERT_CASES = {
    "first_write": (None, [("a", 1, "v1"), ("b", 2, "v2")]),
    "idempotent_rerun": ([("a", 1, "v1"), ("b", 2, "v2")], [("a", 1, "v1"), ("b", 2, "v2")]),
    "null_keys": ([(None, 1, "old"), ("b", 2, "keep")], [(None, 1, "new")]),
    "duplicate_source_keys": ([("a", 1, "old")], [("a", 1, "x"), ("a", 1, "y")]),
    "empty_source": ([("a", 1, "v1")], []),
    "empty_target": ([], [("a", 1, "v1")]),
}


def _within(seconds: float, fn):
    """``fn()`` on a daemon thread, failing instead of hanging when it
    blocks — an Observation whose plan never ran blocks in ``get``."""
    out: dict = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as exc:  # re-raised on the test thread
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"still running after {seconds}s"
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.mark.parametrize("case", list(UPSERT_CASES))
def test_upsert_statistics_match_outside_counts(spark, target_path, case):
    """The statistics observed inside the merge write equal counts taken
    outside it: ``inserted`` is the source's rows and ``deleted`` is
    ``before + inserted - after``."""
    target_rows, source_rows = UPSERT_CASES[case]
    if target_rows is not None:
        spark.createDataFrame(_rows(*target_rows), UPSERT_SCHEMA).write.parquet(target_path)
    before = 0 if target_rows is None else spark.read.parquet(target_path).count()
    source = spark.createDataFrame(_rows(*source_rows), UPSERT_SCHEMA)
    n_source = source.count()

    stats = _within(120, lambda: upsert_parquet(spark, source, target_path, ["k1", "k2"]))

    after = spark.read.parquet(target_path).count()
    assert stats == {"deleted": before + n_source - after, "inserted": n_source}
    if not source_rows:
        assert stats == {"deleted": 0, "inserted": 0}


def test_with_tenant_injection(spark):
    df = spark.createDataFrame([Row(a=1)])
    out = with_tenant(df, "project_01")
    assert out.collect()[0].project_id == "project_01"


def test_compact_partition(spark, tmp_path):
    """A fragmented lake partition compacts to one file through
    ``compact_parquet`` with its rows and ``sum(l_quantity)`` kept."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.plans.layout import compact_parquet, compaction_plan
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "frag")
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    li.repartition(16).write.parquet(path)  # fragment into 16 small files

    before_sum = li.agg(F.sum("l_quantity")).collect()[0][0]
    stats = compact_parquet(spark, path, target_file_mb=64)
    assert stats["files"] == 16 and stats["target_files"] == 1 and stats["rewritten"]
    assert compaction_plan(spark, path)["files"] == 1

    after = spark.read.parquet(path)
    assert after.count() == li.count()
    assert after.agg(F.sum("l_quantity")).collect()[0][0] == before_sum


def test_read_job_partition_pruning(spark, tmp_path):
    """A date-range read over the job root must prune partitions at
    planning time (PartitionFilters), not scan-and-filter."""
    from pyspark.sql import Row

    from dagster_etl_spark.sources import lake

    base = str(tmp_path / "lake")
    for d, v in (("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)):
        df = spark.createDataFrame([Row(k=v, payload=f"day{v}")])
        lake.write_partition(df, base, "t1", "extract", "feed", d)

    out = lake.read_job(
        spark, base, "t1", "extract", "feed",
        date_from="2024-01-02", date_to="2024-01-03",
    )
    assert {r.k for r in out.collect()} == {2, 3}
    assert "date" in out.columns  # discovered partition column
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "date" in seg and "20240102" in seg


def test_merge_schema_reads_evolved_partitions(spark, tmp_path):
    """Schema evolution across lake partitions: a later partition adds
    a column; mergeSchema reads the union, old rows NULL-fill."""
    from pyspark.sql import Row

    p = str(tmp_path / "evolving")
    spark.createDataFrame([Row(id=1, a="x")]).write.parquet(p + "/date=20240101")
    spark.createDataFrame([Row(id=2, a="y", b=9)]).write.parquet(p + "/date=20240102")
    df = spark.read.option("mergeSchema", "true").option("basePath", p).parquet(p + "/date=*")
    assert set(df.columns) == {"id", "a", "b", "date"}
    rows = {r.id: (r.a, r.b) for r in df.collect()}
    assert rows == {1: ("x", None), 2: ("y", 9)}


def test_write_sorted_layout_produces_disjoint_file_ranges(spark, tmp_path):
    """The data-skipping contract: after write_sorted_layout, each
    output file holds a disjoint range of the cluster column (verified
    from the parquet footers), so min/max pruning can skip whole files
    for selective predicates."""
    import glob

    import pyarrow.parquet as pq

    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.sources.lake import write_sorted_layout
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    path = str(tmp_path / "sorted")
    write_sorted_layout(li, path, ["l_orderkey"], num_files=4)

    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "l_orderkey"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 3  # range partitioner actually spread the data
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint up to boundary equality

    # rows survive intact
    assert spark.read.parquet(path).count() == li.count()
