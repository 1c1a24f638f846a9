"""Streaming queries — Structured Streaming plans executed to
completion (availableNow) so the driver can compare them against batch
DuckDB oracles. SURVEY §2.7: the reference is batch-only; these are the
engine's streaming extension over the ``events`` fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dagster_etl_spark.registry import register
from dagster_etl_spark.streaming.stateful import streaming_user_sessions
from dagster_etl_spark.streaming.windowed import streaming_windowed_counts

_WINDOWED_ORACLE = """
SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round((value) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "streaming_windowed_counts",
    oracle=_WINDOWED_ORACLE,
    tags=("streaming", "window"),
    doc="5-minute tumbling-window event stats as a real Structured "
    "Streaming query (file source, watermark, memory sink, availableNow) "
    "verified against the batch oracle.",
)
def q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_windowed_counts(spark, sf_dir)


_SESSIONS_ORACLE = """
WITH e AS (
  -- floor() matches Spark's unix_timestamp() truncation; DuckDB's
  -- epoch() keeps microseconds, which would flip gaps at the 1800s edge
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events
), deltas AS (
  SELECT user_id, ts_sec,
         ts_sec - LAG(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec) AS gap
  FROM e
)
SELECT user_id,
       CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions,
       COUNT(*) AS n_events
FROM deltas
GROUP BY user_id
"""


@register(
    "streaming_user_sessions",
    oracle=_SESSIONS_ORACLE,
    tags=("streaming", "stateful"),
    doc="Custom stateful streaming operator: per-user 30-min-gap "
    "sessionization via applyInPandasWithState; state stitches sessions "
    "across micro-batches (cross-batch test in tests/test_streaming.py).",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_user_sessions(spark, sf_dir)


_DEDUP_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round((value) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
FROM events
GROUP BY event_type
"""


@register(
    "streaming_dedup_counts",
    oracle=_DEDUP_ORACLE,
    tags=("streaming", "dedup"),
    doc="Exactly-once over at-least-once delivery: the events stream "
    "unioned with itself (every record delivered twice), deduped with "
    "dropDuplicatesWithinWatermark on event_id (state bounded by the "
    "watermark horizon); per-type counts must equal the plain batch "
    "table's.",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.dedup import streaming_dedup_counts

    return streaming_dedup_counts(spark, sf_dir)


_ENRICH_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round((e.value) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
"""


@register(
    "streaming_segment_stats",
    oracle=_ENRICH_ORACLE,
    tags=("streaming", "join"),
    doc="Stream-static enrichment: the events stream joined to the "
    "broadcast customer dimension per micro-batch (stateless — no "
    "state store), then per-segment stats; must equal the batch join.",
)
def q_streaming_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.enrich import streaming_segment_stats

    return streaming_segment_stats(spark, sf_dir)


_ATTRIBUTION_ORACLE = """
SELECT v.user_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_sec,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_sec
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
"""


@register(
    "streaming_attribution_join",
    oracle=_ATTRIBUTION_ORACLE,
    tags=("streaming", "join"),
    doc="Stream-stream inner join with an event-time bound: purchases "
    "attributed to views they followed within 30 minutes, state bounded "
    "by watermark + range condition; must equal the batch range join.",
)
def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.joins import (
        streaming_view_purchase_attribution,
    )

    return streaming_view_purchase_attribution(spark, sf_dir)


_BURSTS_ORACLE = """
SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS window_start,
       user_id,
       COUNT(*) AS n_errors
FROM events
WHERE event_type = 'error' AND user_id IS NOT NULL
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


@register(
    "streaming_error_bursts",
    oracle=_BURSTS_ORACLE,
    tags=("streaming", "window"),
    doc="Streaming threshold alerting: per-user hourly error-burst "
    "windows (count >= 2) as a real watermarked streaming aggregate — "
    "the alert stream is the drift, not the traffic; must equal the "
    "batch windowed HAVING query.",
)
def q_streaming_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.windowed import streaming_error_bursts

    return streaming_error_bursts(spark, sf_dir)


# Streaming media decode: same closed forms as the batch
# media_decode_stats oracle (multimodal.synth_real_media_table) — the
# streaming run must produce the identical typed rows.
_STREAM_DECODE_ORACLE = """
WITH p AS (
  SELECT doc_id, CAST(doc_id % 4 AS INT) AS kind,
         CAST(8 + doc_id % 9 AS BIGINT) AS w,
         CAST(8 + (doc_id * 3) % 9 AS BIGINT) AS h,
         CAST(50 + doc_id % 200 AS BIGINT) AS n,
         CAST(1 + doc_id % 3 AS BIGINT) AS wb,
         CAST(1 + (doc_id * 3) % 3 AS BIGINT) AS hb,
         CAST(doc_id % 200 AS BIGINT) AS v0
  FROM documents
)
SELECT doc_id AS asset_id,
       CASE kind WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' WHEN 2 THEN 'png'
            ELSE 'jpeg' END AS fmt,
       CAST(CASE kind WHEN 1 THEN 0 WHEN 3 THEN 8 * wb ELSE w END AS INT) AS img_w,
       CAST(CASE kind WHEN 1 THEN 0 WHEN 3 THEN 8 * hb ELSE h END AS INT) AS img_h,
       CAST(CASE kind WHEN 0 THEN w * h * 3 WHEN 1 THEN n WHEN 2 THEN w * h
            ELSE 64 * wb * hb END AS BIGINT) AS n_values,
       CAST(CASE kind
            WHEN 0 THEN 3 * (h * ((w * (w - 1)) // 2) + w * ((h * (h - 1)) // 2)) + 3 * w * h
            WHEN 1 THEN ((n % 7) * ((n % 7) - 1)) // 2 - 3 * (n % 7)
            WHEN 2 THEN h * ((w * (w - 1)) // 2) + w * ((h * (h - 1)) // 2)
            ELSE 64 * (wb * hb * v0 + 7 * hb * ((wb * (wb - 1)) // 2)
                       + 13 * wb * ((hb * (hb - 1)) // 2))
            END AS BIGINT) AS sum_val,
       CAST(CASE kind WHEN 1 THEN -3 WHEN 3 THEN v0 ELSE 0 END AS INT) AS min_val,
       CAST(CASE kind WHEN 0 THEN w + h WHEN 1 THEN 3 WHEN 2 THEN w + h - 2
            ELSE v0 + 7 * (wb - 1) + 13 * (hb - 1) END AS INT) AS max_val
FROM p
"""


@register(
    "streaming_media_decode",
    oracle=_STREAM_DECODE_ORACLE,
    tags=("streaming", "multimodal", "codecs"),
    doc="Streaming media ingest: documents stream through Arrow-batched "
    "mapInPandas synth + REAL codec decode (ppm/wav/png/jpeg) inside a "
    "Structured Streaming pipeline (availableNow, append sink) — the "
    "batch decode operators run unchanged on the stream and match the "
    "same closed-form oracle.",
)
def q_streaming_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.media import streaming_media_decode

    return streaming_media_decode(spark, sf_dir)


from dagster_etl_spark.queries_llm import JACCARD_T, _minhash_oracle


@register(
    "streaming_neardup_ingest",
    oracle=_minhash_oracle(threshold=JACCARD_T),
    tags=("streaming", "dedup", "incremental"),
    doc="Streaming incremental near-dup: the documents corpus arrives "
    "as 4 micro-batches (file stream, maxFilesPerTrigger=1) and each "
    "batch is ingested into the standing IncrementalNearDupIndex via "
    "foreachBatch. The accumulated pairs table equals the one-shot "
    "MinHash+LSH over the full corpus (the pair-completeness invariant "
    "is slicing-agnostic), so the same oracle verifies it bit-exactly.",
)
def q_streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex
    from dagster_etl_spark.streaming.recovery import stream_documents

    idx = stream_documents(spark, sf_dir, IncrementalNearDupIndex, threshold=0.2)
    return idx.pairs()


def _ws_oracle() -> str:
    from dagster_etl_spark.operators.sampling import weighted_sample_oracle_sql

    return weighted_sample_oracle_sql(
        weight_expr="1 + n_chars % 8",
        k=20,
        group_col="source",
        select_cols="doc_id, source, n_chars",
        seed=7,
    )


@register(
    "streaming_weighted_sample",
    oracle=_ws_oracle(),
    tags=("streaming", "sampling", "incremental"),
    doc="Streaming weighted sampling: the integer-ticket sampler's "
    "bottom-k state merged per micro-batch via foreachBatch (tickets "
    "are a pure function of (seed, id, weight), so bottom-k of a "
    "union == bottom-k of merged bottom-k's). Final state equals the "
    "batch weighted_corpus_sample over the full corpus bit-exactly -- "
    "same oracle. O(k x groups) state, O(batch) work per batch.",
)
def q_streaming_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.weighted_sample import (
        streaming_weighted_sample,
    )

    return streaming_weighted_sample(spark, sf_dir)


def _streaming_decontam_oracle(n: int = 13) -> str:
    """Batch truth for the streaming probe — identical to the batch
    decontaminate_vs_benchmark oracle (the stream must reach the same
    verdict set doc-for-doc)."""
    from dagster_etl_spark.functions import xdialect as x

    sh = x.let(x.tokens("text", x.DUCK), "_t", x.shingles("_t", n, x.DUCK), x.DUCK)
    hashed = x.xform("_sh", "s", x.h60("s", x.DUCK), x.DUCK)
    return f"""
WITH corpus_g AS (
  SELECT doc_id, unnest({hashed}) AS gh
  FROM (SELECT doc_id, {sh} AS _sh FROM documents)
), bench_g AS (
  SELECT DISTINCT unnest({hashed}) AS gh
  FROM (SELECT {sh} AS _sh FROM documents WHERE doc_id % 17 = 0)
)
SELECT DISTINCT doc_id FROM corpus_g
WHERE gh IN (SELECT gh FROM bench_g)
"""


@register(
    "streaming_decontaminate",
    oracle=_streaming_decontam_oracle(),
    tags=("streaming", "llm", "scrub"),
    doc="Ingest-time 13-gram decontamination: a documents stream probes "
    "the static broadcast benchmark-gram relation per micro-batch "
    "(stream-static semi-join, stateless probe; dropDuplicates emits "
    "each contaminated id once). Same oracle as the batch rule -- the "
    "stream's verdict set must equal the batch verdict set.",
)
def q_streaming_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.decontaminate import streaming_decontaminate

    return streaming_decontaminate(spark, sf_dir)


def _bm25_stream_oracle() -> str:
    from dagster_etl_spark.operators.text import bm25_topk_docs_oracle_sql

    return bm25_topk_docs_oracle_sql()


@register(
    "streaming_bm25_ingest",
    oracle=_bm25_stream_oracle(),
    tags=("streaming", "text", "retrieval", "incremental"),
    doc="Streaming BM25 ingest: documents arrive as 4 micro-batches "
    "(file stream, maxFilesPerTrigger=1), each absorbed into the "
    "standing IncrementalBM25Index via foreachBatch. The index state "
    "is additive with quantization deferred to query time, so the "
    "post-stream topk equals the one-shot bm25_topk_docs "
    "integer-for-integer — same oracle, hash-exact.",
)
def q_streaming_bm25_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import IncrementalBM25Index
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.streaming.recovery import stream_documents

    idx = stream_documents(spark, sf_dir, IncrementalBM25Index)
    docs = load_table(spark, sf_dir, "documents")
    return idx.topk(docs.filter("doc_id % 97 = 0").select("doc_id", "text"), k=10)


def _drift_stream_oracle() -> str:
    from dagster_etl_spark.operators.text import corpus_drift_tv_oracle_sql

    return corpus_drift_tv_oracle_sql()


@register(
    "streaming_drift_monitor",
    oracle=_drift_stream_oracle(),
    tags=("streaming", "text", "quality", "incremental"),
    doc="Streaming drift telemetry: documents arrive as 4 micro-batches "
    "(file stream, maxFilesPerTrigger=1), each absorbed into the "
    "standing IncrementalUnigramLM via foreachBatch. State is additive "
    "with quantization deferred to probe time, so the post-stream "
    "per-language drift equals the one-shot corpus_drift_tv exactly — "
    "same oracle, hash-exact. The per-batch probe form "
    "(batch_drift_log: each batch vs the LM as of the previous batch) "
    "is the alerting signal and is unit-tested for its invariants.",
)
def q_streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import IncrementalUnigramLM
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.streaming.recovery import stream_documents

    lm = stream_documents(spark, sf_dir, IncrementalUnigramLM)
    return lm.drift(load_table(spark, sf_dir, "documents"))


def _qclf_stream_oracle() -> str:
    from dagster_etl_spark.operators.text import (
        quality_classifier_score_oracle_sql,
    )

    return quality_classifier_score_oracle_sql()


@register(
    "streaming_quality_score",
    oracle=_qclf_stream_oracle(),
    tags=("streaming", "quality", "text"),
    doc="Streaming quality-classifier scoring: the documents corpus "
    "arrives as 4 micro-batches (file stream, maxFilesPerTrigger=1) "
    "and each batch is scored by the frozen fastText-shape model via "
    "foreachBatch, appending scored rows plus a per-batch keep-rate "
    "observability row. The model is corpus-independent (the contrast "
    "with the corpus-relative CCNet buckets, which stream via the "
    "IncrementalUnigramLM surface), so the accumulated scored table "
    "equals the one-shot quality_classifier_score bit-for-bit and the "
    "same oracle verifies it.",
)
def q_streaming_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.streaming.quality import streaming_quality_score

    return streaming_quality_score(spark, sf_dir)


def _dsir_stream_oracle() -> str:
    from dagster_etl_spark.operators.text import dsir_select_oracle_sql

    return dsir_select_oracle_sql()


@register(
    "streaming_dsir_ingest",
    oracle=_dsir_stream_oracle(),
    tags=("streaming", "text", "sampling", "incremental"),
    doc="Exactly-once streaming DSIR ingest (r17 — the last streamed "
    "incremental index on the slice store): documents arrive as 4 "
    "micro-batches, each absorbed into the standing "
    "IncrementalDSIRModel via ingest_slice inside foreachBatch "
    "(overwrite-mode slice staging + atomic manifest commit, so a "
    "checkpoint-replayed batch cannot double-count the importance "
    "model — kill/restart-proven in tests/test_streaming_recovery). "
    "Counts and totals are additive with smoothing and the k-th- "
    "largest threshold applied at probe time, so the post-stream "
    "selection equals the one-shot dsir_select integer-for-integer — "
    "same oracle, hash-exact.",
)
def q_streaming_dsir_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import IncrementalDSIRModel
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.streaming.recovery import stream_documents

    m = stream_documents(spark, sf_dir, IncrementalDSIRModel)
    return m.select(load_table(spark, sf_dir, "documents"), k=25)
