"""Streaming quality scoring: the fastText-shape classifier applied to
a document stream, one micro-batch at a time via ``foreachBatch``.

The classifier is the one quality signal that streams TRIVIALLY — its
model (the broadcast (bucket, weight) table) is FROZEN and every score
is per-document, so batch-local application equals one-shot application
over the union exactly, with no standing state at all. That is the
deliberate contrast with the corpus-relative signals (CCNet surprisal
buckets need corpus counts -> the IncrementalUnigramLM surface; tercile
cutpoints need the corpus histogram): production pipelines run the
classifier ON the ingest stream and the corpus-relative gates against
standing state, which is exactly how the pieces here compose
(streaming_quality_score + surprisal_incremental).

Each micro-batch also writes a (batch_id, n_docs, n_keep) row to an
observability table — the per-slice keep-rate a curation dashboard
watches for upstream drift (a crawl source going bad shows up as the
keep rate falling batch over batch).

Idempotence under replay (r15 ADVICE): both writes land in a
batch_id-keyed subdirectory with ``mode("overwrite")`` — Structured
Streaming replays the in-flight batch after a crash (at-least-once
delivery to foreachBatch), and a plain append would double-land the
crashed batch's rows. Overwrite-per-batch makes the replay rewrite the
same directory with identical rows (frozen model ⇒ deterministic
scores), so the recovered output equals the one-shot scorer
bit-for-bit — the same commit discipline as streaming/slicestore.py,
without a manifest because each batch's directory is self-contained.

Reference parity note: the reference is batch-only (SURVEY §2.7); this
is the streaming generalization of its per-run validation-report
pattern (etl/common/validation.py) applied to model-gated quality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_quality_score(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str | None = None,
    fail_at: tuple[int, str] | None = None,
) -> DataFrame:
    """Stream the documents fixture through the quality classifier as
    micro-batches of the shared file-drop driver
    (streaming/recovery.py), writing scored rows + per-batch keep
    rates; returns the scored table, which equals the one-shot
    :func:`~dagster_etl_spark.operators.text.quality_classifier_score`
    over the full corpus bit-for-bit (frozen model, per-doc scores —
    the registered query reuses the one-shot oracle unchanged).

    ``work_dir`` pins the run so a second call recovers from the same
    checkpoint; ``fail_at=(batch_id, 'scored'|'rates')`` injects a
    crash after that write."""
    from dagster_etl_spark.operators.text import quality_classifier_score
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.sources.lake import delete_path
    from dagster_etl_spark.streaming.recovery import (
        run_recoverable_ingest,
        stage_drop,
        work_root,
    )

    work = work_root("qclf", sf_dir, work_dir)
    out_dir = f"{work}/scored"
    obs_dir = f"{work}/keep_rates"

    def reset() -> None:
        delete_path(spark, out_dir)
        delete_path(spark, obs_dir)

    in_dir = stage_drop(spark, load_table(spark, sf_dir, "documents"), work, reset)

    def score_batch(batch_df: DataFrame, batch_id: int, fault_hook) -> None:
        scored = quality_classifier_score(batch_df)
        # batch-keyed overwrite = idempotent on checkpoint replay (the
        # dir name is NOT key=value form so the read below stays a plain
        # recursive file scan, no inferred partition column)
        scored.write.mode("overwrite").parquet(f"{out_dir}/b{batch_id}")
        fault_hook("scored")
        scored.agg(
            F.lit(batch_id).alias("batch_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
        ).write.mode("overwrite").parquet(f"{obs_dir}/b{batch_id}")
        fault_hook("rates")

    run_recoverable_ingest(spark, in_dir, f"{work}/ckpt", score_batch, fail_at)
    return spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
