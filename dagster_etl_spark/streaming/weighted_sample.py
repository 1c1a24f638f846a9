"""Streaming weighted sampling: the integer-ticket sampler
(operators/sampling.weighted_sample_topk) maintained over a stream.

The ticket scheme is MERGEABLE: a row's ticket is a pure function of
(seed, id, weight), so the bottom-k of a union equals the bottom-k of
any partition's bottom-k's merged — which makes the weighted sample a
streaming aggregate. Each micro-batch keys its own rows and the
retained state is simply the k smallest tickets seen so far (per
group); when the stream ends the state IS the exact weighted sample of
everything that flowed past, bit-identical to the batch operator over
the full corpus (the slicing-agnostic invariant, same as the
incremental near-dup index).

This is how a 100 TB ingest keeps a standing quality-weighted eval
subsample without ever re-reading the corpus: O(k) state per group, an
O(batch) ticket projection per micro-batch, and the merge is one
union + window.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


def streaming_weighted_sample(
    spark: SparkSession,
    sf_dir: str,
    weight_expr: str = "1 + n_chars % 8",
    k: int = 20,
    group_col: str = "source",
    seed: int = 7,
    work_dir: str | None = None,
    fail_at: tuple[int, str] | None = None,
) -> DataFrame:
    """Stream the documents fixture as micro-batches of the shared
    file-drop driver (streaming/recovery.py), maintaining the
    per-group bottom-k ticket state in foreachBatch; return the final
    state — the exact weighted sample of the full corpus (same oracle
    as the batch weighted_corpus_sample).

    Replay safety (r16): the merge is IDEMPOTENT — tickets are pure
    functions of (seed, id, weight) and the union dedups on (group,
    id) before ranking, so a checkpoint-replayed batch (crash after
    the state write, before Spark's checkpoint commit) re-merges its
    own rows into an identical bottom-k. Without the dedup a replayed
    row would enter the window TWICE and its duplicate could evict a
    legitimate doc from the k. ``work_dir`` pins the run so a second
    call recovers from the same checkpoint; ``fail_at=(batch_id,
    'state')`` injects a crash in exactly that window
    (tests/test_streaming_recovery.py)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dagster_etl_spark.operators.sampling import _ticket_expr
    from dagster_etl_spark.functions import xdialect as x
    from dagster_etl_spark.scratch import drop_warehouse_at_exit
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.sources.lake import delete_path
    from dagster_etl_spark.streaming.recovery import (
        run_recoverable_ingest,
        stage_drop,
        work_root,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", group_col, "n_chars"
    )
    work = work_root("ws", sf_dir, work_dir)
    # the state identity follows the WORK DIR (not just sf_dir): a
    # pinned-work recovery call must find the same table the crashed
    # run wrote, and two different work dirs must never collide on a
    # leftover warehouse location
    state_table = f"ws_state_{hashlib.md5(work.encode()).hexdigest()[:8]}"
    if work_dir is None:
        drop_warehouse_at_exit(spark, state_table)

    def reset() -> None:
        spark.sql(f"DROP TABLE IF EXISTS {state_table}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        delete_path(spark, f"{warehouse}/{state_table}")

    in_dir = stage_drop(spark, docs, work, reset)
    key = _ticket_expr("doc_id", weight_expr, seed, x.SPARK)

    def merge_batch(batch_df: DataFrame, batch_id: int, fault_hook) -> None:
        s = batch_df.sparkSession  # fresh per batch: relation cache safe
        keyed = batch_df.selectExpr("*", f"{key} AS ticket").filter(
            F.col("ticket").isNotNull()
        )
        if s.catalog.tableExists(state_table):
            keyed = s.table(state_table).drop("sample_rank").unionByName(keyed)
        # replay absorption: a checkpoint-replayed batch's rows are
        # already in the state — dedup on identity before ranking so
        # the re-merge is a fixpoint (tickets are deterministic, so
        # duplicates are bit-identical rows)
        keyed = keyed.dropDuplicates([group_col, "doc_id"])
        w = Window.partitionBy(group_col).orderBy("ticket", "doc_id")
        merged = (
            keyed.withColumn("sample_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("sample_rank") <= k)
        )
        # overwrite a table the plan reads: stage through a collected
        # local frame — the state is O(k * groups) rows BY DESIGN (the
        # one bounded-driver-side exception, same class as the nlist
        # centroid collect in similarity.py)
        rows = merged.collect()
        s.createDataFrame(rows, merged.schema).write.mode(
            "overwrite"
        ).saveAsTable(state_table)
        # the at-least-once window: state written, checkpoint not
        # committed — the restart replays this batch
        fault_hook("state")

    run_recoverable_ingest(spark, in_dir, f"{work}/ckpt", merge_batch, fail_at)
    spark.catalog.refreshTable(state_table)
    return spark.table(state_table)
