"""Physical-layout helpers: parallelism repair for CPU-bound operators.

Parquet scans inherit their task count from file/row-group structure.
A table written as a handful of single-row-group files (the driver
fixtures — and, in production, any compacted small dimension) scans as
ONE task, so an expensive per-row chain (tokenize -> shingle -> md5,
regex stacks, cosine folds) runs on one core while the rest of the
cluster idles. ``spread`` repairs that: repartition up to the session's
default parallelism, but ONLY when the scan is under-split — on a real
multi-file lake (100 TB regime: partitions >> cores) it is a no-op and
costs nothing.

Measured at sf0.1 on local[8]: minhash_neardup 6.9s -> 1.6s from this
alone (the whole signature chain was single-task).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dagster_etl_spark.sources.lake import _hadoop_fs, swap_in


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to ``partitions`` (default: the
    session's ``defaultParallelism``) iff it currently has fewer — the
    pre-condition for any CPU-heavy per-row operator. The small-input
    shuffle this triggers is orders of magnitude cheaper than the
    single-core compute it prevents; when the input is already split
    (large tables, many files), returns ``df`` unchanged."""
    if df.isStreaming:
        # micro-batch parallelism comes from the source's trigger
        # splitting; the file/RDD probes below are illegal on a
        # streaming frame
        return df
    sc = df.sparkSession.sparkContext
    target = partitions or sc.defaultParallelism
    # fast path: enough input files -> the scan is already parallel, and
    # reading the file list is a logical-plan walk (no DataFrame->RDD
    # plan conversion, which the old getNumPartitions probe paid on
    # every heavy operator's input). On a real lake (files >> cores)
    # this returns immediately.
    files = df.inputFiles()
    if len(files) >= target:
        return df
    # few/no files: the scan may still be split by maxPartitionBytes
    # (large files) or be a non-file relation — the RDD probe is exact
    # and only runs in this small-input regime.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def compaction_plan(
    spark, path: str, target_file_mb: int = 128, slack: float = 1.2
) -> dict:
    """Inspect a parquet directory and decide whether a compaction
    rewrite pays: returns file count, data bytes, the target file
    count at ``target_file_mb``, and ``rewrite`` (True when the
    directory has more than ``slack``× the target count). Driver-side
    metadata listing only — no data is read."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    files = [
        s
        for s in fs.listStatus(hpath)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
    total = sum(s.getLen() for s in files)
    target = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    return {
        "files": len(files),
        "bytes": total,
        "target_files": int(target),
        "rewrite": len(files) > target * slack,
    }


def compact_parquet(
    spark,
    path: str,
    target_file_mb: int = 128,
    slack: float = 1.2,
    zorder_by: Sequence[str] | None = None,
) -> dict:
    """Small-file compaction — the lake-maintenance op every streaming
    or per-partition ingest needs at scale (micro-batches and daily
    partition appends accrete kilobyte files whose per-file open/seek
    cost eventually dominates scans; open-table formats run the same
    rewrite as OPTIMIZE / rewrite_data_files).

    Coalesces the directory to ``ceil(bytes / target_file_mb)`` files
    via ``coalesce`` (no shuffle — partitions merge on read) written to
    a sibling temp dir, then swaps it in with the lake's rename-aside
    swap (:func:`~dagster_etl_spark.sources.lake.swap_in`). The temp
    write fully materializes BEFORE the original is touched, so a
    mid-swap failure leaves either the old or the new complete data,
    never a mix of half-written state; run it from a single maintenance
    job (the same operational contract as Delta/Iceberg compaction).
    No-ops (rewrite=False) when the directory is already within
    ``slack``× of target, so scheduling it idempotently is free.

    ``zorder_by`` makes the rewrite also RE-CLUSTER (the full
    ``OPTIMIZE ZORDER BY`` analog): the temp write goes through
    :func:`zorder_write` at the same target file count — one rewrite
    pays for both the file-count repair and multi-dimensional min/max
    locality. A z-ordered rewrite always runs (the clustering, not the
    file count, is the point), so it skips the slack no-op."""
    plan = compaction_plan(spark, path, target_file_mb, slack)
    if not plan["rewrite"] and not zorder_by:
        return {**plan, "rewritten": False}
    tmp = path.rstrip("/") + "__compacting"
    if zorder_by:
        zorder_write(
            spark.read.parquet(path), tmp, zorder_by, files=plan["target_files"]
        )
    else:
        (
            spark.read.parquet(path)
            .coalesce(plan["target_files"])
            .write.mode("overwrite")
            .parquet(tmp)
        )
    swap_in(spark, tmp, path)
    return {**plan, "rewritten": True}


def zvalue_expr(cols: Sequence[str], bits: int = 16) -> Column:
    """Z-order (Morton) interleave of up to 4 numeric columns, as pure
    JVM expressions: each column is rank-normalized OUTSIDE this
    function (see :func:`zorder_write` — percent_rank scaled to
    ``2^bits`` buckets) and here its bits are spread so that bit ``i``
    of column ``j`` lands at position ``i * n_cols + j``. Rows close in
    z-value are close in EVERY interleaved dimension, so range-sorted
    files carry narrow min/max stats for all of them at once.
    """
    n = len(cols)
    if not 1 <= n <= 4:
        raise ValueError("zvalue interleaves 1-4 columns")
    if bits * n > 63:
        # the interleave must fit a signed long: one more bit and the
        # top bucket bits shift into/past the sign bit, producing
        # negative z-values that range-sort away from their neighbors
        raise ValueError(
            f"bits * len(cols) = {bits * n} exceeds 63; use bits <= {63 // n} "
            f"for {n} columns"
        )
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        v = F.col(c).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return z


def _quantile_bucket_expr(col: str, boundaries: Sequence[float]) -> Column:
    """Bucket id of ``col`` against sorted quantile ``boundaries`` as a
    JVM array fold (count of boundaries <= value): O(len(boundaries))
    per row, no join, no window — nulls land in bucket 0."""
    arr = ", ".join(f"CAST({b!r} AS DOUBLE)" for b in boundaries)
    return F.expr(
        f"aggregate(array({arr}), 0L, (acc, b) -> "
        f"acc + (CASE WHEN CAST({col} AS DOUBLE) >= b THEN 1 ELSE 0 END))"
    )


def zorder_write(
    df: DataFrame,
    path: str,
    zorder_by: Sequence[str],
    bits: int = 8,
    files: int | None = None,
) -> None:
    """Multi-dimensional clustered Parquet write — the open-table
    ``OPTIMIZE ZORDER BY`` analog on plain files (Delta/Iceberg do the
    same interleave server-side; on a path-based lake it composes from
    quantile-bucket -> z-interleave -> range-repartition -> sort-within
    -> write).

    Why quantile-bucket: Morton codes interleave BITS, so dimensions
    must share a uniform domain. Per-column ``approxQuantile``
    boundaries (2^bits - 1 floats to the driver — bounded at any input
    size) map each distribution evenly onto [0, 2^bits); a skewed raw
    domain would otherwise let one dimension dominate the interleave.
    No global window, no single-task sort: the only full-data movement
    is the final range repartition, which any clustered write pays.

    The payoff at 100 TB: a filter on ANY of the z-columns prunes at
    three levels — partition files (range boundaries), parquet
    row-groups (min/max stats), then pages — instead of only pruning
    on the single column a linear sort favors. Verified in
    tests/test_layout_zorder.py by reading the written row-group stats.
    """
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    ranked = df
    rank_cols = []
    for c in zorder_by:
        rc = f"__zr_{c}"
        bounds = df.stat.approxQuantile(c, probs, 1.0 / (4 << bits))
        ranked = ranked.withColumn(rc, _quantile_bucket_expr(c, bounds))
        rank_cols.append(rc)
    zed = ranked.withColumn("__z", zvalue_expr(rank_cols, bits))
    writer = zed.repartitionByRange(files, "__z") if files else zed.repartitionByRange("__z")
    (
        writer.sortWithinPartitions("__z")
        .drop("__z", *rank_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
