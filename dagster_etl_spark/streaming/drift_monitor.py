"""Streaming drift monitor: the IncrementalUnigramLM fed by a stream,
with a per-batch drift probe — the production telemetry loop that
catches a crawl feed going off-distribution the micro-batch it
happens, not at the end of the day.

Two guarantees, split by surface:

* The STANDING STATE is additive (term counts, totals) with
  quantization deferred to probe time, so after the registered
  ``streaming_drift_monitor`` query streams the corpus into the LM
  (exactly once per batch, through the shared file-drop driver in
  streaming/recovery.py) ``drift(full corpus)`` equals the one-shot
  :func:`~dagster_etl_spark.operators.text.corpus_drift_tv` over the
  union exactly, however the stream chops it — the registered query
  reuses the one-shot oracle unchanged.
* The PER-BATCH probes (each batch's slices vs the LM as of the
  PREVIOUS batch) are the monitoring signal: ``batch_drift_log``
  returns them as (batch_id, slice, n_tokens, tv_scaled, tv) rows.
  They are inherently order-dependent (that is the point — drift of
  today's feed against yesterday's model), so they are unit-tested
  for their invariants (exactness vs a replayed incremental model,
  [0,1] bounds) rather than oracle-hashed.

Reference parity note: the reference is batch-only (SURVEY §2.7); this
generalizes its daily-reprocessing contract to a continuously fed
quality monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def batch_drift_log(
    spark: SparkSession,
    batches: list[DataFrame],
    name: str,
    slice_col: str = "lang",
) -> list[tuple[int, list]]:
    """The monitoring form: ingest ``batches`` in order and, BEFORE
    each ingest (except the first — an empty LM has no distribution),
    record the incoming batch's per-slice drift against the standing
    state. Returns [(batch_index, drift rows)] — the alert stream a
    deployment would threshold on."""
    from dagster_etl_spark.operators.text import IncrementalUnigramLM

    lm = IncrementalUnigramLM(spark, name)
    lm.drop()
    log: list[tuple[int, list]] = []
    for i, b in enumerate(batches):
        if i > 0:
            log.append((i, lm.drift(b, slice_col=slice_col).collect()))
        lm.ingest(b)
    return log
