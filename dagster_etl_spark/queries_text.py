"""Text-analysis queries over the ``documents`` fixture table, each with
a DuckDB oracle generated from the same cross-dialect expression spec
(functions/xdialect.py) — both engines compute the identical md5-based
hashes and ratio arithmetic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dagster_etl_spark.functions import xdialect as x
from dagster_etl_spark.operators.dedup import exact_dedup_stats
from dagster_etl_spark.operators.text import (
    chunk_docs_oracle_sql,
    pack_chunks_oracle_sql,
    doc_stats,
    doc_stats_exprs,
    fingerprints,
    fingerprints_oracle_sql,
    lang_id,
    lang_score_exprs,
)
from dagster_etl_spark.registry import register
from dagster_etl_spark.sources.fixtures import load_table


def _oracle_select(exprs: dict[str, str], table: str = "documents", id_col: str = "doc_id") -> str:
    """Mirror of the operators' two-stage shape: token array staged in a
    subquery, stats computed over the ``_tok`` column."""
    cols = ",\n  ".join(f"{e} AS {name}" for name, e in exprs.items())
    staged = f"SELECT {id_col}, text, {x.tokens('text', x.DUCK)} AS _tok FROM {table}"
    return f"SELECT {id_col},\n  {cols}\nFROM ({staged})"


@register(
    "doc_stats",
    oracle=_oracle_select(doc_stats_exprs("text", x.DUCK, tok="_tok")),
    tags=("llm", "text", "bench"),
    doc="Token/char/punct/stopword statistics + composite quality score, "
    "all built-in expressions (no UDF), per-row, shuffle-free.",
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_stats(load_table(spark, sf_dir, "documents"))


@register(
    "lang_id",
    oracle=_oracle_select(lang_score_exprs("text", x.DUCK, tok="_tok")),
    tags=("llm", "text"),
    doc="Language-ID profile scoring with deterministic argmax "
    "(synthetic hash-bucket profiles; production swaps in lexicons).",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    oracle=fingerprints_oracle_sql(),
    tags=("llm", "text", "bench"),
    doc="md5 content fingerprint + 32-bit SimHash from per-token 60-bit "
    "hash bit votes (exact integer arithmetic).",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(load_table(spark, sf_dir, "documents"))


_EXACT_DEDUP_ORACLE = """
SELECT md5(trim(lower(text))) AS fp,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(trim(lower(text)))
"""


@register(
    "exact_dedup",
    oracle=_EXACT_DEDUP_ORACLE,
    tags=("llm", "dedup"),
    doc="Exact dedup: hash-groupBy with min-id canonical pick.",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# The composite cleaning pipeline: what a training-data run actually
# executes — exact dedup, then quality + language gates, one pass each.

_CLEAN_CORPUS_ORACLE = f"""
WITH canon AS (
  SELECT md5(trim(lower(text))) AS fp, MIN(doc_id) AS canonical_id
  FROM documents GROUP BY 1
), stats AS (
  SELECT doc_id,
    {doc_stats_exprs('text', x.DUCK, tok='_tok')['quality_score']} AS quality_score,
    {{lang}} AS predicted_lang
  FROM (SELECT doc_id, text, {x.tokens('text', x.DUCK)} AS _tok FROM documents)
)
SELECT s.doc_id, s.quality_score, s.predicted_lang
FROM stats s
JOIN canon c ON c.canonical_id = s.doc_id
WHERE s.quality_score >= 0.5
""".replace("{lang}", "{LANG}")


def _clean_corpus_oracle() -> str:
    lang = lang_score_exprs("text", x.DUCK, tok="_tok")["predicted_lang"]
    # language scores feed the argmax through lateral aliases in the
    # operator; inline them for the oracle CTE
    scores = lang_score_exprs("text", x.DUCK, tok="_tok")
    inlined = scores["predicted_lang"]
    for l, e in scores.items():
        if l.startswith("score_"):
            inlined = inlined.replace(l, f"({e})")
    return _CLEAN_CORPUS_ORACLE.replace("{LANG}", inlined)


@register(
    "clean_corpus",
    oracle=_clean_corpus_oracle(),
    tags=("llm", "text", "dedup", "bench"),
    doc="Composite training-data cleaning pipeline: exact dedup "
    "(canonical min-id), quality-score gate (>= 0.5), language tag — "
    "one hash-groupBy plus one per-row pass, semi-join composed.",
)
def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import _let_cols

    from dagster_etl_spark.plans.layout import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    canon = exact_dedup_stats(docs).select(
        F.col("canonical_id").alias("doc_id")
    )
    # quality + language fused into ONE per-row projection (two document
    # scans total: this one + the dedup groupBy), not one join per signal
    per_row = {
        "quality_score": doc_stats_exprs("text", x.SPARK, tok="_t")["quality_score"],
        **lang_score_exprs("text", x.SPARK, tok="_t"),
    }
    scored = docs.selectExpr("doc_id", *_let_cols(per_row, "text", "_t"))
    return (
        scored.join(canon, on="doc_id", how="left_semi")
        .filter(F.col("quality_score") >= 0.5)
        .select("doc_id", "quality_score", "predicted_lang")
    )


def _cc_ctes(threshold: float = 0.5, rel: str = "documents", pre: str = "") -> str:
    """WITH RECURSIVE prefix computing connected components over the
    (oracle-verified) MinHash pair set: ``walk`` enumerates every label
    reachable from a node through the bidirected edge set, so MIN(label)
    per node is the component minimum — exactly the fixpoint the Spark
    min-label propagation converges to. Terminates because UNION dedups
    (node, label) rows and near-dup components are tiny. Shared by the
    clusters, survivors and curation-v2 oracles. ``rel`` selects the
    (doc_id, text) relation to cluster; ``pre`` injects CTE definitions
    ahead of ``pairs`` (legal under one WITH RECURSIVE list) so ``rel``
    may itself be a derived CTE."""
    from dagster_etl_spark.queries_llm import _minhash_oracle

    pairs_sql = _minhash_oracle(threshold=threshold, rel=rel)
    return f"""
WITH RECURSIVE {pre}pairs AS (
  {pairs_sql}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
), comp AS (
  SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node
)"""


def _clusters_oracle(threshold: float = 0.5) -> str:
    return f"""
{_cc_ctes(threshold)}
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(c.cluster_id, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


@register(
    "dedup_clusters",
    oracle=_clusters_oracle(),
    tags=("llm", "dedup"),
    doc="Near-dup clustering: MinHash pairs -> connected components "
    "(iterative min-label propagation, checkpointed lineage). DuckDB "
    "twin is a WITH RECURSIVE transitive closure over the same pair "
    "set, so even the iterative operator is hash-verified.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import dedup_clusters

    return dedup_clusters(load_table(spark, sf_dir, "documents"), threshold=0.5)


def _tfidf_oracle(top_k: int = 3) -> str:
    tok = x.tokens("text", x.DUCK)
    return f"""
WITH ex AS (
  SELECT doc_id, unnest({tok}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) AS weight
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, weight,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, weight, rnk FROM ranked WHERE rnk <= {top_k}
"""


@register(
    "tfidf_top_terms",
    oracle=_tfidf_oracle(),
    tags=("llm", "text"),
    doc="Distributed tf-idf (division-form idf, explicit double casts — "
    "DuckDB parses 1.0 as DECIMAL, which rounds differently): explode "
    "terms, tf per doc, df per term, broadcast doc count, top-3 per doc.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dagster_etl_spark.plans.layout import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    ex = docs.selectExpr(
        "doc_id", f"explode({x.tokens('text', x.SPARK)}) AS term"
    )
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = ex.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "doc_id", "term",
            "CAST(tf AS DOUBLE) * (CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS weight",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("weight").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "weight", "rnk")
    )


_ORDER_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
)

_NULL_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, COUNT(*) - COUNT({c}) AS n_nulls, "
    f"COUNT(*) AS n_rows FROM orders"
    for c in _ORDER_COLS
)


@register(
    "null_profile_orders",
    oracle=_NULL_PROFILE_ORACLE,
    tags=("parity", "profile"),
    doc="P12 null profiling: single-pass all-column null counts, "
    "unpivoted to long form (reference: asset_factory.py:188-192).",
)
def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.profile import null_profile

    return null_profile(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# Scrubbing: PII redaction + benchmark decontamination.

def _redact_oracle() -> str:
    from dagster_etl_spark.operators.scrub import redact_expr

    return f"SELECT doc_id, {redact_expr('text', x.DUCK)} AS clean_text FROM documents"


@register(
    "redact_pii",
    oracle=_redact_oracle(),
    tags=("llm", "text", "scrub"),
    doc="PII redaction: chained regexp_replace (email/phone/url/ssn) in "
    "the Java-RE2 common regex subset; JVM-side, shuffle-free.",
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.scrub import redact_pii

    return redact_pii(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "clean_text"
    )


def _decontam_oracle(n: int = 13) -> str:
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
    "decontaminate_vs_benchmark",
    oracle=_decontam_oracle(),
    tags=("llm", "dedup", "scrub"),
    doc="13-gram decontamination: corpus docs sharing any 13-gram hash "
    "with the benchmark subset (broadcast semi-join on 60-bit hashes).",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.scrub import contaminated_ids

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 17 = 0")
    return contaminated_ids(docs, bench)


def _contamination_score_oracle() -> str:
    from dagster_etl_spark.operators.scrub import contamination_score_oracle_sql

    return contamination_score_oracle_sql()


@register(
    "contamination_score",
    oracle=_contamination_score_oracle(),
    tags=("llm", "dedup", "scrub"),
    doc="GRADED 13-gram contamination: per-doc fraction of distinct "
    "n-gram hashes shared with the benchmark subset (exact BIGINT "
    "counts; the ratio is one exact-int division in double). The "
    "binary decontaminate_vs_benchmark rule is this score "
    "thresholded at > 0; the graded report is what contamination "
    "AUDITS ship (how MUCH of each doc overlaps, not just whether).",
)
def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.scrub import contamination_score

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 17 = 0")
    return contamination_score(docs, bench)


def _bloom_gate_oracle(n: int = 13) -> str:
    """The exact side of the bloom gate: count the exactly-contaminated
    docs; the two bloom bounds are asserted as literals (hash-green iff
    the Spark run's real bloom satisfied them — same gate pattern as
    approx_distinct_gate)."""
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
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_exact_removed,
       TRUE AS superset_ok, TRUE AS fp_excess_ok
FROM corpus_g WHERE gh IN (SELECT gh FROM bench_g)
"""


@register(
    "decontaminate_bloom_gate",
    oracle=_bloom_gate_oracle(),
    tags=("llm", "dedup", "scrub", "sketch"),
    doc="Bloom-filter decontamination gated against the exact twin: "
    "the benchmark grams compress into a broadcast word-table bloom "
    "filter (K=2 xxhash64 positions, bit_or-folded 64-bit words) and "
    "the corpus membership probe is scan-local — a few MB on every "
    "executor where the exact semi-join ships the full gram relation. "
    "Gate asserts in-query that the exact-removed set is a subset "
    "(no false negatives, structural) and over-removal is < 1% of "
    "the corpus.",
)
def q_decontaminate_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.scrub import bloom_decontaminate_gate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 17 = 0")
    return bloom_decontaminate_gate(docs, bench).select(
        "n_exact_removed", "superset_ok", "fp_excess_ok"
    )


# ---------------------------------------------------------------------------
# Deterministic splitting / sampling.

def _split_oracle() -> str:
    from dagster_etl_spark.operators.sampling import split_expr

    return (
        f"SELECT doc_id, {split_expr('doc_id', x.DUCK)} AS split FROM documents"
    )


@register(
    "train_val_test_split",
    oracle=_split_oracle(),
    tags=("llm", "sampling"),
    doc="Deterministic 80/10/10 corpus split by id-hash bucket: a pure "
    "projection (no shuffle, no RNG state), stable across reruns, "
    "engines, partitionings, and corpus growth.",
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import hash_split

    return hash_split(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )


def _epoch_shuffle_oracle() -> str:
    from dagster_etl_spark.operators.sampling import epoch_shuffle_oracle_sql

    return epoch_shuffle_oracle_sql(seed=1, num_shards=8)


@register(
    "epoch_shuffle_order",
    oracle=_epoch_shuffle_oracle(),
    tags=("llm", "sampling"),
    doc="Deterministic per-epoch training order: md5(seed:id) order "
    "key, shard = key mod S, rank within shard. A seeded pseudorandom "
    "permutation with no global sort — one hash exchange, per-shard "
    "independent sorts, reproducible across engines and cluster sizes; "
    "reseeding the epoch reshuffles.",
)
def q_epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import epoch_shuffle

    return epoch_shuffle(
        load_table(spark, sf_dir, "documents"), seed=1, num_shards=8
    )


def _mix_sources() -> dict[str, float]:
    # three pseudo-sources carved from the corpus by id residue
    return {"web": 1.0, "books": 2.5, "code": 0.3}


def _mix_oracle() -> str:
    from dagster_etl_spark.operators.sampling import _copies_expr

    selects = []
    for i, (name, w) in enumerate(sorted(_mix_sources().items())):
        n = _copies_expr("doc_id", x.DUCK, w, "mix:" + name)
        selects.append(
            f"SELECT doc_id, '{name}' AS source, "
            f"CAST(unnest(generate_series(1, {n})) AS BIGINT) AS copy_idx "
            f"FROM documents WHERE doc_id % 3 = {i}"
        )
    return " UNION ALL ".join(selects)


@register(
    "corpus_mixture",
    oracle=_mix_oracle(),
    tags=("llm", "sampling"),
    doc="Weighted pretraining data mixture over three pseudo-sources "
    "(web x1.0, books x2.5, code x0.3): floor(w) exact copies plus a "
    "hash-selected fractional copy — deterministic, shuffle-free "
    "up/downsampling.",
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import weighted_mix

    docs = load_table(spark, sf_dir, "documents")
    sources = {
        name: (docs.filter(f"doc_id % 3 = {i}"), w)
        for i, (name, w) in enumerate(sorted(_mix_sources().items()))
    }
    return weighted_mix(sources).select("doc_id", "source", "copy_idx")


def _decile_oracle() -> str:
    q = doc_stats_exprs("text", x.DUCK, tok="_tok")["quality_score"]
    return f"""
WITH scored AS (
  SELECT doc_id, {q} AS quality_score
  FROM (SELECT doc_id, text, {x.tokens('text', x.DUCK)} AS _tok FROM documents)
)
SELECT doc_id, quality_score,
       CAST(NTILE(10) OVER w AS BIGINT) AS decile,
       PERCENT_RANK() OVER w AS pct_rank
FROM scored
WINDOW w AS (ORDER BY quality_score DESC, doc_id)
"""


@register(
    "quality_deciles",
    oracle=_decile_oracle(),
    tags=("llm", "text", "window"),
    doc="Quality-score deciles + percent_rank (ntile over a global "
    "order — fine for corpus-curation cutoffs; at 100 TB use "
    "approx-percentile bucket bounds instead of a total sort, which "
    "this query documents as the scale path).",
)
def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    scored = doc_stats(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )
    w = Window.orderBy(F.col("quality_score").desc(), "doc_id")
    return scored.select(
        "doc_id",
        "quality_score",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


def _bigram_oracle(min_count: int = 5) -> str:
    sh = x.let(x.tokens("text", x.DUCK), "_t", x.shingles("_t", 2, x.DUCK), x.DUCK)
    return f"""
SELECT bigram, COUNT(*) AS n
FROM (SELECT unnest({sh}) AS bigram FROM documents)
GROUP BY bigram
HAVING COUNT(*) >= {min_count}
"""


@register(
    "corpus_bigram_counts",
    oracle=_bigram_oracle(),
    tags=("llm", "text"),
    doc="Corpus-wide word-bigram counts (language-model n-gram "
    "statistics): explode 2-shingles, hash-aggregate with map-side "
    "partials, HAVING floor to keep the long tail out of the result.",
)
def q_corpus_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dagster_etl_spark.plans.layout import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = x.let(x.tokens("text", x.SPARK), "_t", x.shingles("_t", 2, x.SPARK), x.SPARK)
    return (
        docs.selectExpr(f"explode({sh}) AS bigram")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )


def _gopher_oracle() -> str:
    from dagster_etl_spark.operators.text import gopher_quality_exprs

    return _oracle_select(gopher_quality_exprs("text", x.DUCK, tok="_tok"))


@register(
    "gopher_quality_flags",
    oracle=_gopher_oracle(),
    tags=("llm", "text"),
    doc="Gopher-style quality gate: token-count bounds, mean word "
    "length, repeated-bigram ratio — integer-arithmetic flags, "
    "shuffle-free per-row array folds.",
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import gopher_quality

    return gopher_quality(load_table(spark, sf_dir, "documents"))


@register(
    "doc_chunks",
    oracle=chunk_docs_oracle_sql(),
    tags=("llm", "text"),
    doc="Overlapping token-window chunking (window 32, stride 24) — the "
    "pretraining chunk pass: per-row generator expansion, zero "
    "shuffles.",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import chunk_docs

    return chunk_docs(load_table(spark, sf_dir, "documents"))


@register(
    "packed_sequences",
    oracle=pack_chunks_oracle_sql(),
    tags=("llm", "text"),
    doc="Context packing: chunk_docs output greedily packed into "
    "512-token training sequences within 64 deterministic hash "
    "buckets — running-total window, exact integer ids, one shuffle.",
)
def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import chunk_docs, pack_chunks

    return pack_chunks(chunk_docs(load_table(spark, sf_dir, "documents")))


_STRAT_SAMPLE_SALT = "strat:"
_STRAT_RATES = {"click": 0.1, "view": 0.25, "purchase": 1.0, "signup": 1.0}


def _strat_oracle() -> str:
    from dagster_etl_spark.operators.sampling import stratified_sample_expr

    pred = stratified_sample_expr(
        "event_id", "event_type", _STRAT_RATES, x.DUCK, _STRAT_SAMPLE_SALT
    )
    return f"SELECT event_id, event_type FROM events WHERE {pred}"


@register(
    "stratified_event_sample",
    oracle=_strat_oracle(),
    tags=("llm", "sampling"),
    doc="Per-stratum deterministic downsampling (corpus balancing): "
    "10% of clicks, 25% of views, all purchases/signups, drop the "
    "rest — pure id-hash predicate, no RNG, no shuffle, growth-stable.",
)
def q_stratified_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import stratified_sample

    return stratified_sample(
        load_table(spark, sf_dir, "events"),
        rates=_STRAT_RATES,
        strata_col="event_type",
        id_col="event_id",
        salt=_STRAT_SAMPLE_SALT,
    ).select("event_id", "event_type")


# ---------------------------------------------------------------------------
# Round 3 additions: cross-document LM-style scoring + winnowing.

def _novelty_oracle() -> str:
    sh = x.let(x.tokens("text", x.DUCK), "_t", x.shingles("_t", 2, x.DUCK), x.DUCK)
    return f"""
WITH e AS (SELECT doc_id, unnest({sh}) AS bigram FROM documents),
c AS (SELECT bigram, COUNT(*) AS df FROM e GROUP BY bigram)
SELECT e.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN c.df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(CAST(SUM(CASE WHEN c.df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS novelty_rate
FROM e JOIN c USING (bigram)
GROUP BY e.doc_id
"""


@register(
    "bigram_novelty",
    oracle=_novelty_oracle(),
    tags=("llm", "text"),
    doc="Two-pass language-model-style novelty scoring: corpus bigram "
    "document frequencies (pass 1) joined back onto each document's "
    "bigrams (pass 2); a document's share of corpus-rare bigrams "
    "(df <= 2) is the noise/novelty signal quality filters threshold "
    "on. Integer counts + one final division — engine-exact. Scale "
    "shape: two hash aggregations and one shuffle join, all keyed on "
    "bigram/doc_id; nothing is broadcast (the LM table grows with the "
    "corpus) and nothing is collected.",
)
def q_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dagster_etl_spark.plans.layout import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    sh = x.let(x.tokens("text", x.SPARK), "_t", x.shingles("_t", 2, x.SPARK), x.SPARK)
    exploded = docs.selectExpr("doc_id", f"explode({sh}) AS bigram")
    df_counts = exploded.groupBy("bigram").agg(F.count(F.lit(1)).alias("df"))
    rare = F.when(F.col("df") <= 2, 1).otherwise(0)
    return (
        exploded.join(df_counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(rare).cast("bigint").alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_bigrams").cast("double"))
            .cast("double")
            .alias("novelty_rate"),
        )
    )


_VOCAB_K = 1000


def _vocab_oracle() -> str:
    tok = x.tokens("text", x.DUCK)
    return f"""
WITH t AS (SELECT doc_id, unnest({tok}) AS token FROM documents),
v AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n FROM t GROUP BY token
    ORDER BY n DESC, token ASC LIMIT {_VOCAB_K}
  )
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS DOUBLE) AS oov_rate
FROM t LEFT JOIN v USING (token)
GROUP BY t.doc_id
"""


@register(
    "vocab_oov",
    oracle=_vocab_oracle(),
    tags=("llm", "text"),
    doc=f"Vocabulary coverage: build the top-{_VOCAB_K} corpus vocabulary "
    "(count desc, token asc tiebreak — deterministic boundary) with a "
    "distributed top-k (orderBy+limit, no single-partition window), "
    "then score every document's out-of-vocabulary token share via a "
    "broadcast left join. The tokenizer-fit signal for corpus/vocab "
    "mismatch. Integer counts + one final division — engine-exact.",
)
def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dagster_etl_spark.plans.layout import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = x.tokens("text", x.SPARK)
    t = docs.selectExpr("doc_id", f"explode({tok}) AS token")
    vocab = (
        t.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(_VOCAB_K)
        .select("token", F.lit(1).alias("_in_vocab"))
    )
    oov = F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
    return (
        t.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"))
            .cast("double")
            .alias("oov_rate"),
        )
    )


def _winnow_oracle(k: int = 8, w: int = 4) -> str:
    from dagster_etl_spark.operators.text import winnow_fp_array_expr

    arr = winnow_fp_array_expr("text", x.DUCK, k=k, w=w)
    return f"SELECT doc_id, unnest({arr}) AS fp FROM documents"


@register(
    "winnow_fingerprints",
    oracle=_winnow_oracle(),
    tags=("llm", "text"),
    doc="Winnowing fingerprints (MOSS): per-window minimum of char "
    "8-gram hashes (window 4) — any shared substring of length >= 11 "
    "yields a shared fingerprint. Per-row expression chain (k-gram "
    "hashes let-bound, md5'd once), exploded to (doc_id, fp) rows "
    "ready for banded candidate joins.",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def _curation_oracle() -> str:
    from dagster_etl_spark.operators.sampling import _bucket_expr
    from dagster_etl_spark.operators.text import gopher_quality_exprs

    g = gopher_quality_exprs("text", x.DUCK, tok="_tok")
    bucket = _bucket_expr("doc_id", x.DUCK, salt="cur:")
    return f"""
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(trim(lower(text))) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
), staged AS (
  SELECT doc_id, text, {x.tokens("text", x.DUCK)} AS _tok FROM dedup
), flags AS (
  SELECT doc_id, {g["n_tokens"]} AS n_tokens, {g["keep"]} AS keep FROM staged
)
SELECT doc_id, n_tokens FROM flags WHERE keep = 1 AND {bucket} < 5000
"""


@register(
    "curation_pipeline",
    oracle=_curation_oracle(),
    tags=("llm", "text", "pipeline"),
    doc="End-to-end corpus curation in ONE composed plan: exact dedup "
    "(min-id per content hash, semi-join — no window over the corpus) "
    "-> Gopher quality gate (per-row integer flags) -> deterministic "
    "50% id-hash sample. The composition stays a single Catalyst plan "
    "— the dedup semi-join is the only shuffle; the gate and sample "
    "are projections that pipeline over it.",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import drop_exact_duplicates
    from dagster_etl_spark.operators.sampling import hash_sample
    from dagster_etl_spark.operators.text import gopher_quality

    docs = load_table(spark, sf_dir, "documents")
    deduped = drop_exact_duplicates(docs)
    flagged = gopher_quality(deduped).filter("keep = 1")
    return hash_sample(flagged, 0.5, id_col="doc_id", salt="cur:").select(
        "doc_id", "n_tokens"
    )


# ---------------------------------------------------------------------------
# C4-style corpus line dedup: the one staple of public LLM-corpus
# pipelines beyond document-level dedup — boilerplate lines (nav bars,
# license headers) recur across MANY documents and are removed at line
# granularity. The flat documents fixture has no newlines, so the query
# first reshapes each text into deterministic 10-token lines (both
# engines identically), then runs the generic operator.

_DEDUP_LINES_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), lines AS (
  SELECT doc_id, i - 1 AS line_no,
         replace(array_to_string(list_slice(tk, (i-1)*10+1, (i-1)*10+10), ' '),
                 chr(10), ' ') AS line
  FROM toks, unnest(range(1, CAST(ceil(len(tk)/10.0) AS BIGINT) + 1)) u(i)
), boiler AS (
  SELECT md5(trim(lower(line))) AS fp
  FROM lines WHERE trim(line) <> ''
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT l.doc_id, l.line_no, l.line, b.fp IS NOT NULL AS is_boiler
  FROM lines l LEFT JOIN boiler b ON b.fp = md5(trim(lower(l.line)))
)
SELECT doc_id,
       COALESCE(array_to_string(
         list(line ORDER BY line_no) FILTER (WHERE NOT is_boiler), chr(10)
       ), '') AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(CASE WHEN is_boiler THEN 1 END) AS BIGINT) AS n_dropped
FROM flagged GROUP BY doc_id
"""


@register(
    "dedup_lines",
    oracle=_DEDUP_LINES_ORACLE,
    tags=("llm", "dedup", "text"),
    doc="C4-style boilerplate line removal: lines occurring (normalized-"
    "md5) in >= 2 distinct documents are dropped and documents are "
    "rebuilt from surviving lines. One explode, one map-side-combining "
    "document-frequency aggregate, broadcast of the (small) boilerplate "
    "set with runtime shuffle fallback, one reassembly aggregate.",
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import dedup_lines

    docs = load_table(spark, sf_dir, "documents")
    return dedup_lines(reline_10_tokens(docs), min_docs=2)


from dagster_etl_spark.operators.dedup import duplicate_ngram_spans_oracle_sql


@register(
    "duplicate_ngram_spans",
    oracle=duplicate_ngram_spans_oracle_sql(k=8, min_count=2),
    tags=("llm", "dedup", "text"),
    doc="Substring-level duplicate detection (Lee et al. ACL 2022, "
    "fixed 8-token grain): corpus-frequency of every positional "
    "shingle hash, left-semi join back, per-doc union-span coverage "
    "via the sorted-gap identity. Only (doc_id, pos, h60) rows cross "
    "an exchange; the per-doc coverage number is what a >30%-dup "
    "filter pass thresholds on.",
)
def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import duplicate_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_ngram_spans(docs, k=8, min_count=2)


def reline_10_tokens(docs: DataFrame) -> DataFrame:
    """Reshape flat text into deterministic 10-token '\\n'-joined lines.
    Newlines embedded INSIDE space-split tokens are scrubbed to spaces
    here, on both engines' twins, so the downstream re-split on '\\n'
    can never fragment a line differently than the oracle fingerprints
    it (r7 ADVICE regression; tests/test_newline_relining.py)."""
    from pyspark.sql import functions as F

    tk = "split(text, ' ')"
    lines_arr = (
        f"transform(sequence(0, cast(ceil(size({tk})/10.0) as int) - 1), "
        f"i -> replace(array_join(slice({tk}, i*10+1, 10), ' '), chr(10), ' '))"
    )
    return docs.select(
        "doc_id", F.array_join(F.expr(lines_arr), "\n").alias("text")
    )


# ---------------------------------------------------------------------------
# Quality-based cluster survivor selection: production curation keeps
# the highest-quality doc per near-dup cluster, not the min-id one.

def _survivors_oracle(threshold: float = 0.5) -> str:
    quality = doc_stats_exprs("text", x.DUCK, tok="_tok")["quality_score"]
    # NULL-score members: Spark struct comparison sorts a NULL field
    # SMALLEST (max prefers any real score), DuckDB sorts it LARGEST —
    # coalesce to a sentinel below any real score so the argmax agrees,
    # then NULLIF the sentinel back out of best_score.
    pick = "max(struct_pack(s := COALESCE(s.quality_score, -1e30), nid := -s.doc_id))"
    return f"""
{_cc_ctes(threshold)},
clustered AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), scored AS (
  SELECT doc_id, {quality} AS quality_score
  FROM (SELECT doc_id, text, {x.tokens("text", x.DUCK)} AS _tok FROM documents)
)
SELECT cl.cluster_id,
       ({pick}).nid * -1 AS kept_doc,
       NULLIF(({pick}).s, -1e30) AS best_score,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM clustered cl JOIN scored s USING (doc_id)
GROUP BY cl.cluster_id
"""


@register(
    "dedup_survivors",
    oracle=_survivors_oracle(),
    tags=("llm", "dedup"),
    doc="Cluster survivor selection: per near-dup cluster keep the "
    "max-quality doc (doc_stats composite score, min-id tiebreak) via "
    "ONE lexicographic struct-max aggregate — no window sort. DuckDB "
    "twin shares the WITH RECURSIVE component closure with "
    "dedup_clusters, so the survivor pick is hash-verified end-to-end.",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import cluster_survivors

    return cluster_survivors(load_table(spark, sf_dir, "documents"), threshold=0.5)


# ---------------------------------------------------------------------------
# URL/source-keyed dedup: the first stage of every public corpus
# pipeline — one representative document per source URL.

_URL_DEDUP_ORACLE = """
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d
JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY source) k
  USING (doc_id)
"""


@register(
    "url_dedup",
    oracle=_URL_DEDUP_ORACLE,
    tags=("llm", "dedup"),
    doc="Metadata-keyed (URL/source) dedup: keep the min-id document "
    "per source value — hash-groupBy + semi-join on unique ids, no "
    "window over the corpus.",
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import drop_key_duplicates

    return drop_key_duplicates(
        load_table(spark, sf_dir, "documents"), key_col="source"
    )


# ---------------------------------------------------------------------------
# Curation pipeline v2: the flagship composition, upgraded to the full
# production stage order — URL dedup -> C4 line dedup -> quality-based
# near-dup survivor selection -> Gopher gates -> deterministic sample.
# One composed lineage; the bounded iterative CC (min-label propagation)
# sits in the middle exactly as it does in public corpus pipelines.

def _curation_v2_oracle(threshold: float = 0.5) -> str:
    from dagster_etl_spark.operators.sampling import _bucket_expr
    from dagster_etl_spark.operators.text import gopher_quality_exprs

    quality = doc_stats_exprs("text", x.DUCK, tok="_tok")["quality_score"]
    g = gopher_quality_exprs("text", x.DUCK, tok="_tok")
    bucket = _bucket_expr("doc_id", x.DUCK, salt="cur2:")
    # same sentinel trick as _survivors_oracle: Spark struct comparison
    # sorts a NULL score field smallest, DuckDB largest
    pick = "max(struct_pack(s := COALESCE(s.quality_score, -1e30), nid := -s.doc_id))"
    pre = f"""srcdedup AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY source) k
    USING (doc_id)
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM srcdedup
), lines AS (
  SELECT doc_id, i - 1 AS line_no,
         replace(array_to_string(list_slice(tk, (i-1)*10+1, (i-1)*10+10), ' '),
                 chr(10), ' ') AS line
  FROM toks, unnest(range(1, CAST(ceil(len(tk)/10.0) AS BIGINT) + 1)) u(i)
), boiler AS (
  SELECT md5(trim(lower(line))) AS fp
  FROM lines WHERE trim(line) <> ''
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
), lflag AS (
  SELECT l.doc_id, l.line_no, l.line, b.fp IS NOT NULL AS is_boiler
  FROM lines l LEFT JOIN boiler b ON b.fp = md5(trim(lower(l.line)))
), rebuilt AS (
  SELECT doc_id,
         COALESCE(array_to_string(
           list(line ORDER BY line_no) FILTER (WHERE NOT is_boiler), chr(10)
         ), '') AS text
  FROM lflag GROUP BY doc_id
), """
    return f"""
{_cc_ctes(threshold, rel="rebuilt", pre=pre)},
clustered AS (
  SELECT r.doc_id, COALESCE(c.cluster_id, r.doc_id) AS cluster_id
  FROM rebuilt r LEFT JOIN comp c ON c.node = r.doc_id
), qscored AS (
  SELECT doc_id, {quality} AS quality_score
  FROM (SELECT doc_id, text, {x.tokens("text", x.DUCK)} AS _tok FROM rebuilt)
), kept AS (
  SELECT ({pick}).nid * -1 AS doc_id
  FROM clustered cl JOIN qscored s USING (doc_id)
  GROUP BY cl.cluster_id
), staged AS (
  SELECT r.doc_id, r.text, {x.tokens("text", x.DUCK)} AS _tok
  FROM rebuilt r JOIN kept USING (doc_id)
), flags AS (
  SELECT doc_id, {g["n_tokens"]} AS n_tokens, {g["keep"]} AS keep FROM staged
)
SELECT doc_id, n_tokens FROM flags WHERE keep = 1 AND {bucket} < 5000
"""


@register(
    "curation_pipeline_v2",
    oracle=_curation_v2_oracle(),
    tags=("llm", "text", "pipeline"),
    doc="Production curation order in one composed lineage: URL/source "
    "dedup (min-id per source, semi-join) -> C4 boilerplate line dedup "
    "(10-token re-lining, cross-doc frequency pass, broadcast "
    "boilerplate set) -> MinHash near-dup clustering with QUALITY-based "
    "survivor selection (struct-max argmax, min-id tiebreak) -> Gopher "
    "quality gate -> deterministic 50% id-hash sample. The DuckDB twin "
    "shares every dialect-templated fragment (shingles, signatures, "
    "quality composite, bucket hash) plus the WITH RECURSIVE component "
    "closure, so the whole five-stage composition is hash-verified "
    "end-to-end.",
)
def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_v2(load_table(spark, sf_dir, "documents"))


def curation_v2(docs: DataFrame) -> DataFrame:
    """The composed five-stage plan over (doc_id, text, source) that the
    registered query runs and the correctness gate hash-verifies; the
    curation scale trends (SCALETREND_CURATION_*.json) measured this
    same plan."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.dedup import (
        cluster_survivors,
        dedup_lines,
        drop_key_duplicates,
    )
    from dagster_etl_spark.operators.sampling import hash_sample
    from dagster_etl_spark.operators.text import gopher_quality

    from dagster_etl_spark.plans.cache import pin

    # pin the two multiply-consumed intermediates: dedup_lines reads
    # its input TWICE (frequency + rebuild pass — cheap for a parquet
    # scan, not for this groupBy+semi-join), and `rebuilt` feeds the
    # clustering, the survivor join, and the quality gate. These pins
    # plus connected_components' edge lineage checkpoint took the r8
    # 10x smoke of this composition from 1282 s to 30 s — the bulk was
    # Catalyst RE-ANALYZING the full five-stage logical tree inside
    # every CC fixpoint job (see dedup.py connected_components).
    # persist() is MEMORY_AND_DISK, so at corpus scale this spills
    # rather than OOMs; harnesses release via release_pinned().
    srcdedup = pin(
        drop_key_duplicates(docs, key_col="source").select("doc_id", "text")
    )
    relined = reline_10_tokens(srcdedup)
    rebuilt = pin(dedup_lines(relined, min_docs=2).select("doc_id", "text"))
    surv = cluster_survivors(rebuilt, threshold=0.5)
    kept = rebuilt.join(
        surv.select(F.col("kept_doc").alias("doc_id")), on="doc_id", how="left_semi"
    )
    flagged = gopher_quality(kept).filter("keep = 1")
    return hash_sample(flagged, 0.5, id_col="doc_id", salt="cur2:").select(
        "doc_id", "n_tokens"
    )


def _wsample_oracle() -> str:
    from dagster_etl_spark.operators.sampling import weighted_sample_oracle_sql

    return weighted_sample_oracle_sql(
        weight_expr="1 + n_chars % 8",
        k=20,
        group_col="source",
        select_cols="doc_id, source, n_chars",
        seed=7,
    )


@register(
    "weighted_corpus_sample",
    oracle=_wsample_oracle(),
    tags=("llm", "sampling"),
    doc="Exact weighted sampling without replacement (integer-ticket "
    "min-hash): 20 docs per source, selection probability proportional "
    "to a quality weight (1 + n_chars % 8), renormalized per draw. "
    "Pure integer md5 keys -- no pow/ln -- so the draw order is "
    "bit-reproducible on any engine, partitioning, or cluster size; "
    "the ticket min is a per-row projection (no shuffle) and the "
    "per-group top-k is one window.",
)
def q_weighted_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample_topk(
        docs, weight_expr="1 + n_chars % 8", k=20, group_col="source", seed=7
    )


def _training_order_oracle() -> str:
    from dagster_etl_spark.operators.sampling import weighted_sample_oracle_sql

    ws = weighted_sample_oracle_sql(
        weight_expr="1 + n_chars % 8",
        k=50,
        group_col="source",
        select_cols="doc_id, source, n_chars",
        seed=11,
    )
    key = x.h60("'2:' || CAST(doc_id AS VARCHAR)", x.DUCK)
    return f"""
WITH sample AS ({ws}),
k AS (SELECT doc_id, {key} AS order_key FROM sample)
SELECT doc_id, order_key, CAST(order_key % 8 AS INT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY order_key % 8 ORDER BY order_key, doc_id) AS BIGINT
       ) AS pos
FROM k
"""


@register(
    "training_order_pipeline",
    oracle=_training_order_oracle(),
    tags=("llm", "sampling", "composed"),
    doc="Composed epoch assembly: quality-weighted sample (50 per "
    "source, exact integer-ticket draw) -> seeded shard/position "
    "training order (no global sort). One Catalyst plan end to end; "
    "both stages and their composition reproduce bit-exactly on any "
    "engine -- the property that lets a 1000-executor run and a "
    "laptop produce the same epoch.",
)
def q_training_order_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import (
        epoch_shuffle,
        weighted_sample_topk,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    sample = weighted_sample_topk(
        docs, weight_expr="1 + n_chars % 8", k=50, group_col="source", seed=11
    )
    return epoch_shuffle(sample.select("doc_id"), seed=2, num_shards=8)


_MIX_BUDGETS = {"src0": 100_000_000, "src1": 4_000, "src2": 500, "src3": 1_500}


def _budget_oracle() -> str:
    from dagster_etl_spark.operators.sampling import (
        token_budget_mixture_oracle_sql,
    )

    return token_budget_mixture_oracle_sql(
        _MIX_BUDGETS,
        select_cols="doc_id, source, n_chars",
        seed=13,
    )


@register(
    "token_budget_mixture",
    oracle=_budget_oracle(),
    tags=("llm", "sampling"),
    doc="Per-source TOKEN-budget mixture (the pretraining mixing "
    "primitive: '60k web / 25k books / 9k code tokens', not row "
    "rates): each source's docs in seeded-hash order, running exact "
    "token cumsum per source, keep through the budget-crossing doc. "
    "One hash exchange + per-source window; all integer arithmetic, "
    "bit-reproducible on any engine.",
)
def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import token_budget_mixture

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return token_budget_mixture(docs, _MIX_BUDGETS, seed=13)


def _cm_oracle() -> str:
    from dagster_etl_spark.operators.text import cm_heavy_hitters_oracle_sql

    return cm_heavy_hitters_oracle_sql()


@register(
    "cm_heavy_hitters",
    oracle=_cm_oracle(),
    tags=("llm", "text", "sketch"),
    doc="Count-Min heavy hitters: top-20 corpus tokens with their "
    "sketch estimates gated against exact counts in-query — the "
    "12 KB mergeable frequency sketch a 100 TB pipeline keeps when "
    "the vocabulary doesn't fit, with md5-derived hash rows so the "
    "oracle recomputes the sketch bit-for-bit (approx_distinct_gate "
    "family, exact not statistical).",
)
def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import cm_heavy_hitters

    return cm_heavy_hitters(load_table(spark, sf_dir, "documents"))


_TEMP_MIX_BUDGET = 1_000_000


def _temperature_oracle() -> str:
    from dagster_etl_spark.operators.sampling import (
        temperature_mixture_oracle_sql,
    )

    return temperature_mixture_oracle_sql(_TEMP_MIX_BUDGET)


@register(
    "temperature_mixture",
    oracle=_temperature_oracle(),
    tags=("llm", "sampling"),
    doc="Temperature-flattened (alpha=0.5) mixture weights per source "
    "— the multilingual/multi-source rebalancing rule, with integer-"
    "sqrt weights so every share and token allocation is exact-int "
    "arithmetic plus one IEEE-exact division (sqrt is the one "
    "fractional power IEEE requires exactly rounded). One map-side "
    "hash aggregate + a broadcast one-row total; dimension-sized "
    "output.",
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import temperature_mixture

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return temperature_mixture(docs, _TEMP_MIX_BUDGET)


_SELF_REPEAT_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), relined AS (
  SELECT doc_id,
         array_to_string(list(ln ORDER BY i), chr(10)) AS text
  FROM (
    SELECT doc_id, i,
           replace(array_to_string(list_slice(tk, (i-1)*10+1, (i-1)*10+10), ' '),
                   chr(10), ' ') AS ln
    FROM toks, unnest(range(1, CAST(ceil(len(tk)/10.0) AS BIGINT) + 1)) u(i)
  ) GROUP BY doc_id
), selfrep AS (
  -- induce a deterministic self-repeat: append the doc's own first
  -- line (the fixture has no natural intra-doc repeats)
  SELECT doc_id,
         text || chr(10) || string_split(text, chr(10))[1] AS text
  FROM relined
), lines AS (
  SELECT doc_id, i - 1 AS line_no, string_split(text, chr(10))[i] AS line
  FROM selfrep, unnest(range(1, CAST(len(string_split(text, chr(10))) AS BIGINT) + 1)) u(i)
), flagged AS (
  SELECT doc_id, line_no, line,
         (row_number() OVER (
            PARTITION BY doc_id, md5(trim(lower(line))) ORDER BY line_no
          ) = 1 OR trim(line) = '') AS keep
  FROM lines
)
SELECT doc_id,
       COALESCE(array_to_string(
         list(line ORDER BY line_no) FILTER (WHERE keep), chr(10)), '') AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(CASE WHEN NOT keep THEN 1 END) AS BIGINT) AS n_dropped
FROM flagged GROUP BY doc_id
"""


@register(
    "self_repetition_removal",
    oracle=_SELF_REPEAT_ORACLE,
    tags=("llm", "dedup", "text"),
    doc="Intra-document repetition removal (the within-doc complement "
    "of dedup_lines -- crawl pages repeating their own nav/footer "
    "blocks): keep the first occurrence of each normalized line per "
    "doc, reassemble in order. No cross-document state -- one window "
    "partitioned by (doc, line-md5). The fixture has no natural "
    "intra-doc repeats, so both engines deterministically append each "
    "doc's own first line first; the operator must drop exactly it.",
)
def q_self_repetition_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import dedup_self_repeats

    docs = reline_10_tokens(load_table(spark, sf_dir, "documents"))
    with_rep = docs.selectExpr(
        "doc_id",
        "concat(text, '\\n', split(text, '\\n')[0]) AS text",
    )
    return dedup_self_repeats(with_rep)


def _bm25_oracle() -> str:
    from dagster_etl_spark.operators.text import bm25_topk_docs_oracle_sql

    return bm25_topk_docs_oracle_sql()


@register(
    "bm25_topk_docs",
    oracle=_bm25_oracle(),
    tags=("llm", "text", "retrieval"),
    doc="BM25 more-like-this retrieval (k1=1.2, b=0.75): every 97th "
    "doc's token set queries the corpus; scores are BIGINT fixed-point "
    "(idf and saturation as exact integer rationals, one terminal "
    "double division) so the cross-term sum is order-independent and "
    "the DuckDB oracle is bit-exact. The term equi-join IS the "
    "inverted index -- unmatched docs are never scored.",
)
def q_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import bm25_topk_docs

    return bm25_topk_docs(load_table(spark, sf_dir, "documents"))


def _dedup_substrings_oracle() -> str:
    from dagster_etl_spark.operators.dedup import dedup_substrings_oracle_sql

    return dedup_substrings_oracle_sql(k=8, min_count=2)


@register(
    "dedup_substrings",
    oracle=_dedup_substrings_oracle(),
    tags=("llm", "dedup", "text"),
    doc="ExactSubstr removal (Lee et al. ACL 2022 sec. 4.2): maximal "
    "duplicate token spans >= 8 tokens (exact at the k-gram grain: "
    "covered-position union of duplicated positional shingles) are "
    "deleted and the surviving tokens reassembled. Islands coalesce "
    "when gaps <= k; removal is a scan-local array lambda after one "
    "equi-join of the dimension-sized island set back to the token "
    "arrays — text never crosses an exchange.",
)
def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.dedup import dedup_substrings

    docs = load_table(spark, sf_dir, "documents")
    return dedup_substrings(docs, k=8, min_count=2)


@register(
    "bm25_incremental",
    oracle=_bm25_oracle(),
    tags=("llm", "text", "retrieval", "layout", "incremental"),
    doc="Daily-cadence BM25 (operators/text.py IncrementalBM25Index, "
    "the fifth incremental surface): three id-sliced ingests append "
    "postings/partial-df/totals to term-bucketed standing tables; "
    "query-time scoring sums the additive state, so the result equals "
    "the one-shot bm25_topk_docs integer-for-integer (same oracle). "
    "The probe join shuffles only the query term set; posting lists "
    "read co-located on their term bucketing.",
)
def q_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuilt from scratch each call (correctness surface; same
    discipline as minhash_neardup_incremental); table names are
    sf-scoped so concurrent SFs don't collide."""
    import hashlib

    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalBM25Index

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBM25Index(spark, f"bm25_inc_{sfx}")
    idx.drop()
    for day in range(3):
        idx.ingest(docs.filter(F.col("doc_id") % 3 == day))
    seeds = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
    return idx.topk(seeds, k=10)


def _surprisal_oracle() -> str:
    from dagster_etl_spark.operators.text import ccnet_surprisal_buckets_oracle_sql

    return ccnet_surprisal_buckets_oracle_sql()


@register(
    "ccnet_surprisal_buckets",
    oracle=_surprisal_oracle(),
    tags=("llm", "text", "quality"),
    doc="CCNet-shape perplexity bucketing (arXiv:1911.00359): per-doc "
    "mean token surprisal under the corpus unigram LM, split at "
    "tercile cutpoints into head/middle/tail. Surprisal is the EXACT "
    "integer floor(log2 N/c_t) (xdialect.floor_log2_ratio, no float "
    "log); cutpoints come from a cumulative histogram of the quantized "
    "integer scores, so no corpus-sized single-partition sort.",
)
def q_ccnet_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import ccnet_surprisal_buckets

    return ccnet_surprisal_buckets(load_table(spark, sf_dir, "documents"))


def _dsir_oracle() -> str:
    from dagster_etl_spark.operators.text import dsir_select_oracle_sql

    return dsir_select_oracle_sql()


@register(
    "dsir_select",
    oracle=_dsir_oracle(),
    tags=("llm", "text", "sampling"),
    doc="DSIR data selection (arXiv:2302.03169): hashed-bigram "
    "importance weights log p_target/p_raw (target = the 'en' slice, "
    "raw = the rest), add-one smoothing, EXACT integer floor-log2 "
    "ratios, k-th-largest threshold selection via the cumulative "
    "histogram (no global top-k sort; threshold ties all survive).",
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import dsir_select

    return dsir_select(load_table(spark, sf_dir, "documents"))


def _drift_oracle() -> str:
    from dagster_etl_spark.operators.text import corpus_drift_tv_oracle_sql

    return corpus_drift_tv_oracle_sql()


@register(
    "corpus_drift_tv",
    oracle=_drift_oracle(),
    tags=("llm", "text", "quality"),
    doc="Distribution-shift telemetry: exact total-variation distance "
    "between each language slice's unigram distribution and the whole "
    "corpus (linear in counts -> BIGINT fixed-point, no log/square; "
    "absent-vocabulary mass computed algebraically as N_l*(N - S_l), "
    "never materialized).",
)
def q_corpus_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import corpus_drift_tv

    return corpus_drift_tv(load_table(spark, sf_dir, "documents"))


@register(
    "surprisal_incremental",
    oracle=_surprisal_oracle(),
    tags=("llm", "text", "quality", "incremental"),
    doc="Daily-cadence perplexity bucketing (operators/text.py "
    "IncrementalUnigramLM, the sixth incremental surface): three "
    "id-sliced ingests append term counts/totals to a term-bucketed "
    "standing LM; probe-time scoring quantizes from the summed state, "
    "so the result equals the one-shot ccnet_surprisal_buckets "
    "integer-for-integer (same oracle). Probe joins read the counts "
    "co-located on their term bucketing.",
)
def q_surprisal_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuilt from scratch each call (correctness surface; same
    discipline as bm25_incremental); table names are sf-scoped so
    concurrent SFs don't collide."""
    import hashlib

    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalUnigramLM

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    docs = load_table(spark, sf_dir, "documents")
    lm = IncrementalUnigramLM(spark, f"ulm_inc_{sfx}")
    lm.drop()
    for day in range(3):
        lm.ingest(docs.filter(F.col("doc_id") % 3 == day))
    return lm.score(docs)


@register(
    "corpus_drift_incremental",
    oracle=_drift_oracle(),
    tags=("llm", "text", "quality", "incremental"),
    doc="Drift telemetry against the standing LM: after the same "
    "three-slice ingest, per-language TV of the full corpus vs the "
    "summed state equals the one-shot corpus_drift_tv exactly (counts "
    "are additive; quantization at probe time). The production probe "
    "form also takes frames the LM has never seen — unseen terms "
    "carry ct=0 through the left join (property-tested).",
)
def q_corpus_drift_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalUnigramLM

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    docs = load_table(spark, sf_dir, "documents")
    lm = IncrementalUnigramLM(spark, f"ulm_drift_{sfx}")
    lm.drop()
    for day in range(3):
        lm.ingest(docs.filter(F.col("doc_id") % 3 == day))
    return lm.drift(docs, slice_col="lang")


def _bigram_surprisal_oracle() -> str:
    from dagster_etl_spark.operators.text import bigram_surprisal_buckets_oracle_sql

    return bigram_surprisal_buckets_oracle_sql()


@register(
    "bigram_surprisal_buckets",
    oracle=_bigram_surprisal_oracle(),
    tags=("llm", "text", "quality"),
    doc="n-gram generalization of the CCNet bucketing (n=2): per-doc "
    "mean conditional surprisal -log2 P(w2|w1) under the corpus "
    "bigram LM with add-one smoothing, exact integer floor-log2 of "
    "(c1+V)/(c12+1), head/middle/tail at cumulative-histogram "
    "tercile cutpoints — proves the integer-exact LM machinery is "
    "not unigram-specific.",
)
def q_bigram_surprisal_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import bigram_surprisal_buckets

    return bigram_surprisal_buckets(load_table(spark, sf_dir, "documents"))


@register(
    "dsir_incremental",
    oracle=_dsir_oracle(),
    tags=("llm", "text", "sampling", "incremental"),
    doc="Daily-cadence DSIR (operators/text.py IncrementalDSIRModel, "
    "the seventh incremental surface): three id-sliced ingests append "
    "per-bucket target/raw counts to a bucketed standing model; "
    "smoothing and the k-th-largest threshold are applied at probe "
    "time from the summed state, so the selection equals the one-shot "
    "dsir_select integer-for-integer (same oracle). The production "
    "probe scores never-ingested candidates against yesterday's model "
    "(unit-tested).",
)
def q_dsir_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalDSIRModel

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    docs = load_table(spark, sf_dir, "documents")
    m = IncrementalDSIRModel(spark, f"dsir_inc_{sfx}")
    m.drop()
    for day in range(3):
        m.ingest(docs.filter(F.col("doc_id") % 3 == day))
    return m.select(docs)


def _qclf_oracle() -> str:
    from dagster_etl_spark.operators.text import quality_classifier_score_oracle_sql

    return quality_classifier_score_oracle_sql()


@register(
    "quality_classifier_score",
    oracle=_qclf_oracle(),
    tags=("llm", "text", "quality"),
    doc="fastText-shape linear quality classifier inference (Joulin et "
    "al. 2016 — the CCNet/GPT-3/LLaMA quality-filter model family): "
    "hashed unigram+bigram features, broadcast (bucket, weight) model "
    "table, fixed-point mean-weight logit, sigmoid applied as integer "
    "logit-cutpoint bucketing (nine precomputed deciles; keep = "
    "decile >= 5 = logit >= 0 exactly). One explode, one broadcast "
    "model join, one per-doc aggregate — no window, no corpus sort. "
    "Weights here are the deterministic h60-derived stand-in for "
    "trained parameters; production loads real weights into the same "
    "(bucket, weight) schema and the plan is unchanged.",
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import quality_classifier_score

    return quality_classifier_score(load_table(spark, sf_dir, "documents"))


def _subword_oracle() -> str:
    from dagster_etl_spark.operators.text import subword_segment_oracle_sql

    return subword_segment_oracle_sql()


@register(
    "subword_segment",
    oracle=_subword_oracle(),
    tags=("llm", "text"),
    doc="Greedy longest-match-first subword segmentation (WordPiece "
    "inference, Wu et al. 2016) over a frozen vocabulary: per-doc "
    "piece/UNK counts plus a boundary-position fingerprint that "
    "checks the exact segmentation. Pure per-row expression tree — "
    "zero shuffles, codegen throughout; the vocab is a plan constant. "
    "Oracle walks the identical recurrence as a recursive CTE "
    "(DuckDB 1.0 list_reduce mis-vectorizes captured columns).",
)
def q_subword_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import subword_segment

    return subword_segment(load_table(spark, sf_dir, "documents"))


_MIX_BUDGETS_SW = {"src0": 10_000_000, "src1": 2_000, "src2": 300, "src3": 800}


def _budget_subword_oracle() -> str:
    from dagster_etl_spark.operators.sampling import (
        token_budget_mixture_oracle_sql,
    )
    from dagster_etl_spark.operators.text import (
        subword_token_counts_oracle_sql,
    )

    return token_budget_mixture_oracle_sql(
        _MIX_BUDGETS_SW,
        table=subword_token_counts_oracle_sql(),
        token_col="n_subword_tokens",
        select_cols="doc_id, source, n_subword_tokens",
        seed=13,
    )


@register(
    "token_budget_mixture_subword",
    oracle=_budget_subword_oracle(),
    tags=("llm", "sampling", "text"),
    doc="token_budget_mixture re-based on REAL tokenizer tokens: the "
    "per-source budgets fill by greedy-subword piece counts "
    "(subword_segment) instead of the n_chars proxy — the form a "
    "pretraining pipeline actually budgets in. Same one hash exchange "
    "+ per-source cumulative window; the segmentation itself adds "
    "zero shuffles (scan-local expression).",
)
def q_token_budget_mixture_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import token_budget_mixture
    from dagster_etl_spark.operators.text import subword_doc_expr

    # r19 measured (guide §1): an Arrow-batched subword walk read
    # 0.68–0.84 s here vs 0.58 s for this expression form — the greedy
    # subword walk is O(L·max_piece), cheap enough that the
    # Python-boundary round trip costs more than it saves at this text
    # length, so that walk was deleted. BPE (O(L²) merges) runs only on
    # the Arrow path (bpe_token_counts).
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "source",
        f"{subword_doc_expr('text', x.SPARK)}.n_pieces AS n_subword_tokens",
    )
    return token_budget_mixture(
        docs, _MIX_BUDGETS_SW, token_col="n_subword_tokens", seed=13
    )


def _bpe_oracle() -> str:
    from dagster_etl_spark.operators.text import bpe_segment_oracle_sql

    return bpe_segment_oracle_sql()


@register(
    "bpe_segment",
    oracle=_bpe_oracle(),
    tags=("llm", "text"),
    doc="BPE merge-rank segmentation stats (Sennrich et al. 2016; the "
    "GPT-2 tokenizer's merge loop): per word, start from characters "
    "and repeatedly merge the leftmost lowest-rank adjacent pair from "
    "a frozen ordered merge table — a different tokenizer family "
    "(GPT/BPE) from subword_segment's WordPiece greedy walk. The walk "
    "is a bounded aggregate fold (<= L-1 merges per word), scan-local, "
    "zero shuffles; the oracle proves the identical recurrence as a "
    "recursive CTE over list-valued state. seg_fp pins the exact "
    "segmentation (md5 of the space-joined pieces).",
)
def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import bpe_segment

    return bpe_segment(load_table(spark, sf_dir, "documents"))


_MIX_BUDGETS_BPE = {"src0": 10_000_000, "src1": 2_500, "src2": 400, "src3": 900}


def _budget_bpe_oracle() -> str:
    from dagster_etl_spark.operators.sampling import (
        token_budget_mixture_oracle_sql,
    )
    from dagster_etl_spark.operators.text import bpe_token_counts_oracle_sql

    return token_budget_mixture_oracle_sql(
        _MIX_BUDGETS_BPE,
        table=bpe_token_counts_oracle_sql(),
        token_col="n_bpe_tokens",
        select_cols="doc_id, source, n_bpe_tokens",
        seed=13,
    )


@register(
    "token_budget_mixture_bpe",
    oracle=_budget_bpe_oracle(),
    tags=("llm", "sampling", "text"),
    doc="token_budget_mixture on the THIRD budget basis: per-source "
    "budgets fill by BPE merge-rank piece counts (bpe_segment) — the "
    "unit a GPT-family model actually consumes — next to the "
    "whitespace proxy (token_budget_mixture) and the WordPiece walk "
    "(token_budget_mixture_subword). Same one hash exchange + "
    "per-source cumulative window; the BPE walk adds zero shuffles.",
)
def q_token_budget_mixture_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.sampling import token_budget_mixture
    from dagster_etl_spark.operators.text import bpe_token_counts

    # r19: Arrow-batched BPE piece counts (see subword twin above)
    docs = bpe_token_counts(
        load_table(spark, sf_dir, "documents"),
        "text",
        ("doc_id", "source"),
        "n_bpe_tokens",
    )
    return token_budget_mixture(
        docs, _MIX_BUDGETS_BPE, token_col="n_bpe_tokens", seed=13
    )


def _kn_oracle() -> str:
    from dagster_etl_spark.operators.text import kn_bigram_surprisal_oracle_sql

    return kn_bigram_surprisal_oracle_sql()


@register(
    "kn_bigram_surprisal",
    oracle=_kn_oracle(),
    tags=("llm", "text", "quality"),
    doc="Interpolated Kneser-Ney bigram LM surprisal buckets (Kneser & "
    "Ney 1995, Chen & Goodman 1998 — the KenLM-style smoothing behind "
    "CCNet's perplexity filter): absolute discount 3/4, continuation "
    "probability from distinct-context counts, the whole P_KN as one "
    "exact integer fraction through floor_log2_ratio. One pinned "
    "positional-bigram explode feeds all four count aggregates; "
    "constants ride a broadcast 1-row frame; tercile cutpoints from "
    "the cumulative histogram (no corpus sort).",
)
def q_kn_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import kn_bigram_surprisal

    return kn_bigram_surprisal(load_table(spark, sf_dir, "documents"))


def _quality_gate_oracle() -> str:
    from dagster_etl_spark.operators.text import quality_gate_oracle_sql

    return quality_gate_oracle_sql()


@register(
    "quality_gate_composite",
    oracle=_quality_gate_oracle(),
    tags=("llm", "text", "quality"),
    doc="FineWeb/CCNet-style composite curation gate: Gopher "
    "structural flags AND fastText-shape classifier keep AND CCNet "
    "perplexity bucket != tail, joined per document into one 0/1 keep "
    "decision — the composition a crawl pipeline actually ships. "
    "Branch 1 is scan-local; branches 2-3 join back on the id key "
    "(co-locatable by pre-partitioning at scale).",
)
def q_quality_gate_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import quality_gate

    return quality_gate(load_table(spark, sf_dir, "documents"))


def _packed_subword_oracle() -> str:
    from dagster_etl_spark.operators.text import (
        _subword_walk_ctes,
        chunk_docs_oracle_sql,
    )

    chunks = chunk_docs_oracle_sql()
    bucket = x.h60("CAST(doc_id AS VARCHAR)", x.DUCK)
    walk = _subword_walk_ctes("ck", "chunk_text", "ckid")
    return f"""
WITH RECURSIVE chunks AS (
  {chunks}
), ck AS (
  SELECT doc_id, chunk_idx, chunk_text,
         doc_id * 1000000 + chunk_idx AS ckid
  FROM chunks
), {walk}, per_ck AS (
  SELECT ckid, CAST(SUM(cnt) AS BIGINT) AS n FROM done GROUP BY 1
), b AS (
  SELECT c.doc_id, c.chunk_idx,
         COALESCE(p.n, 0) AS n_subword_tokens,
         CAST({bucket} % 64 AS INT) AS bucket
  FROM ck c LEFT JOIN per_ck p USING (ckid)
)
SELECT bucket,
       CAST((SUM(n_subword_tokens) OVER (
          PARTITION BY bucket ORDER BY doc_id, chunk_idx
          ROWS UNBOUNDED PRECEDING) - n_subword_tokens) // 512
            AS BIGINT) AS seq_id,
       doc_id, chunk_idx, n_subword_tokens
FROM b
"""


@register(
    "packed_sequences_subword",
    oracle=_packed_subword_oracle(),
    tags=("llm", "text"),
    doc="packed_sequences re-based on REAL tokenizer tokens: the same "
    "greedy 512-token first-fit packing within 64 hash buckets, but "
    "each chunk's budget contribution is its greedy-subword piece "
    "count (subword_segment's walk over the chunk text) instead of "
    "the whitespace count — training sequences are budgeted in the "
    "units the model actually consumes. The walk is scan-local; "
    "still one shuffle (the bucket window).",
)
def q_packed_sequences_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import (
        chunk_docs,
        pack_chunks,
        subword_doc_expr,
    )

    # r19 measured (guide §1): Arrow-batched chunk counts read
    # 0.83–0.92 s vs 0.63 s for this expression form — chunk texts are
    # short, so the greedy walk is cheaper than the Python boundary
    # here (same verdict as token_budget_mixture_subword above)
    chunks = chunk_docs(load_table(spark, sf_dir, "documents"))
    sw = chunks.selectExpr(
        "doc_id",
        "chunk_idx",
        f"{subword_doc_expr('chunk_text', x.SPARK)}.n_pieces AS n_subword_tokens",
    )
    return pack_chunks(sw, n_col="n_subword_tokens")


def _langclf_oracle() -> str:
    from dagster_etl_spark.operators.text import lang_classifier_scores_oracle_sql

    return lang_classifier_scores_oracle_sql()


@register(
    "lang_classifier_scores",
    oracle=_langclf_oracle(),
    tags=("llm", "text", "quality"),
    doc="Multiclass linear language identification (fastText langid "
    "shape, Joulin et al. 2016 — the model CCNet gates with, "
    "upgrading the lang_id profile-overlap heuristic to real "
    "inference): hashed unigram+bigram features, a broadcast (bucket, "
    "per-language weight vector) model table, fixed-point per-language "
    "logits, deterministic precedence argmax, integer top-two margin "
    "as the confidence signal (monotone in softmax confidence, no "
    "float exp). One explode, one broadcast model join, one per-doc "
    "aggregate with |LANGS| sum measures.",
)
def q_lang_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dagster_etl_spark.operators.text import lang_classifier_scores

    return lang_classifier_scores(load_table(spark, sf_dir, "documents"))
