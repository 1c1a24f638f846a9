"""Lake (Parquet) storage with the reference's path contract — SURVEY §2 S4-S7.

Path scheme (reference: etl/resources/s3.py:139-151):
``{base}/project_id={tenant}/{stage}/job_name={job}/date={YYYYMMDD}/``
with non-partitioned master data under ``.../latest/``.

Differences by design: the reference writes a single ``data.parquet``
file per partition (single-process pandas); we keep the directory
layout but let Spark write one file per task — at 100 TB a single file
per partition is the bottleneck, and every reader here consumes paths,
not file names.

Works against any Hadoop-supported filesystem (local, s3a, hdfs) —
the driver environment uses local paths.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def partition_path(
    base: str, tenant_id: str, stage: str, job_name: str, date: str | None
) -> str:
    """date 'YYYY-MM-DD' or 'YYYYMMDD' -> date=YYYYMMDD dir; None -> latest/."""
    leaf = f"date={date.replace('-', '')}" if date else "latest"
    return f"{base.rstrip('/')}/project_id={tenant_id}/{stage}/job_name={job_name}/{leaf}"


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` reports failure via a ``false``
    return, not an exception — an unchecked call can silently leave the
    destination empty while a follow-up delete discards the only other
    copy. Every swap step checks."""
    if not fs.rename(src, dst):
        raise IOError(f"filesystem rename failed: {src} -> {dst}")


def swap_in(spark: SparkSession, staging: str, path: str) -> None:
    """Replace directory ``path`` with the completed rewrite at
    ``staging`` by a rename-aside swap: the live data survives as
    ``{path}__old`` until the new data is in place, so a crash mid-swap
    never loses it — delete-then-rename would. The two renames are not
    atomic on object stores (true atomicity needs a table format), so
    run it from one writer."""
    fs, live, jvm = _hadoop_fs(spark, path)
    staging_p = jvm.org.apache.hadoop.fs.Path(staging)
    old_p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__old")
    fs.delete(old_p, True)
    rename_or_raise(fs, live, old_p)
    try:
        rename_or_raise(fs, staging_p, live)
    except IOError:
        fs.rename(old_p, live)  # restore the live data before surfacing
        raise
    # only drop the __old copy once the rewrite is verifiably live
    if not fs.exists(live):
        raise IOError(f"rewritten data missing at {path} after swap; old copy kept")
    fs.delete(old_p, True)


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count attached as an observed metric: the
    count is taken by whichever action runs the returned plan, and read
    afterwards with ``obs.get["rows"]``. An Observation serves one
    DataFrame, so every call makes a new one."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def write_counted(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """Write ``df`` as Parquet at ``path`` and return its row count,
    measured inside the write job — write-then-``count()`` would run the
    lineage a second time."""
    out, obs = observe_rows(df)
    out.write.mode(mode).parquet(path)
    return int(obs.get["rows"])


def write_partition(
    df: DataFrame,
    base: str,
    tenant_id: str,
    stage: str,
    job_name: str,
    date: str | None,
) -> tuple[str, int]:
    """Overwrite one tenant/stage/job partition; returns its path and
    the number of rows written."""
    path = partition_path(base, tenant_id, stage, job_name, date)
    return path, write_counted(df, path)


def read_partition(
    spark: SparkSession, base: str, tenant_id: str, stage: str, job_name: str, date: str | None
) -> DataFrame:
    return spark.read.parquet(partition_path(base, tenant_id, stage, job_name, date))


def check_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe (reference: s3.py:305-318 HEAD/404)."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def staged_complete(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` is a FULLY-COMMITTED parquet directory: the
    ``_SUCCESS`` marker Spark's FileOutputCommitter writes at job
    commit must be present, not just the directory. Bare-existence
    probes (r17 ADVICE) treat a crash-torn partial staging write as
    fully staged, and a recovery call then streams a partial corpus —
    silently diverging from the one-shot oracle. Callers that see
    False re-stage with mode("overwrite"), which atomically replaces
    any partial output."""
    fs, hpath, _ = _hadoop_fs(spark, f"{path}/_SUCCESS")
    return bool(fs.exists(hpath))


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursive delete (reference: s3.py:320-332)."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    return bool(fs.delete(hpath, True))


def write_sorted_layout(
    df: DataFrame, path: str, order_cols: Sequence[str], num_files: int, mode: str = "overwrite"
) -> str:
    """Data-skipping layout: range-partition rows across ``num_files``
    output files by ``order_cols`` and sort within each file.

    Parquet stores per-row-group min/max statistics; once a partition's
    files hold DISJOINT ranges of the predicate column, a selective
    filter prunes whole files/row groups at scan time instead of
    reading and discarding — the difference between touching 100 TB
    and touching the one-week slice a query asks for. This is the
    single-dimension workhorse (cluster by time, id, or tenant);
    pair it with partition_path dirs for the coarse date axis.
    ``repartitionByRange`` samples range boundaries, so output files
    are balanced even under value skew. Disjointness of the written
    files is asserted in tests via the parquet footers.
    """
    cols = [F.col(c) for c in order_cols]
    out = df.repartitionByRange(num_files, *cols).sortWithinPartitions(*cols)
    out.write.mode(mode).parquet(path)
    return path


def read_job(
    spark: SparkSession,
    base: str,
    tenant_id: str,
    stage: str,
    job_name: str,
    date_from: str | None = None,
    date_to: str | None = None,
) -> DataFrame:
    """Read ALL of a job's date partitions through Hive partition
    discovery: the ``date=YYYYMMDD`` path segments become a ``date``
    column, and a range filter on it prunes at PLANNING time — the
    scan never lists or opens files outside [date_from, date_to]
    (shows as PartitionFilters in the plan; this is what makes a
    100 TB backfill read only its window).
    """
    prefix = f"{base.rstrip('/')}/project_id={tenant_id}/{stage}/job_name={job_name}"
    df = spark.read.option("basePath", prefix).parquet(prefix + "/date=*")
    if date_from is not None:
        df = df.filter(F.col("date") >= int(date_from.replace("-", "")))
    if date_to is not None:
        df = df.filter(F.col("date") <= int(date_to.replace("-", "")))
    return df


def list_partitions(
    spark: SparkSession, base: str, tenant_id: str, stage: str, job_name: str
) -> list[str]:
    """Sorted YYYYMMDD partition keys under a job prefix (reference:
    s3.py:228-253 prefix walk for ``date=`` dirs)."""
    prefix = f"{base.rstrip('/')}/project_id={tenant_id}/{stage}/job_name={job_name}"
    fs, hpath, _ = _hadoop_fs(spark, prefix)
    if not fs.exists(hpath):
        return []
    out = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("date="):
            out.append(name.split("=", 1)[1])
    return sorted(out)
