"""Standing-index soak: probe cost as the index grows under the real
maintenance cadence (the feature's 100 TB claim — a benchmark sweep or
ANN query burst should cost O(probe x density), not O(corpus)).

Two incremental surfaces, both fed a genuinely-growing corpus:

* ``IncrementalNearDupIndex`` — one cipher-translated documents copy
  per day (textually disjoint per day, the scale_trend_llm axis); a
  FIXED 1,000-doc external probe set (100 per copy, ids shifted out of
  the corpus id space) sweeps the standing band index read-only after
  every ingest, so expected hits grow linearly while the probe side
  stays constant.
* ``IncrementalIVFPQIndex`` (r14, verdict task 6) — one rotated
  embeddings copy per day appended against quantizers FROZEN on day 1;
  a FIXED 100-vector query set runs ``topk`` after every append. The
  codes table is the 8-byte-per-vector hot state; the probe reads
  nprobe/nlist of it.

Cadence: ``days`` daily ingests with ``compact_every`` compaction (r14
protocol: 30 days, compact every 10 — the r13 run was 10 days / every
3). Each probe is measured as a warm pair (first run warms, second is
recorded). PASS shape: probe_sec flat-ish under compaction while the
corpus grows ``days``x and hits grow ~linearly.

Usage: python tools/probe_growth.py [sf_dir] [days] [compact_every]
Prints one JSON line (redirect to PROBEGROWTH_r{N}.json).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DAYS = int(sys.argv[2]) if len(sys.argv) > 2 else 10
COMPACT_EVERY = int(sys.argv[3]) if len(sys.argv) > 3 else 3
# PROBE_SURFACES=neardup|ivfpq|both — lets a long soak run per-surface
# (the 30-day dual soak exceeds a 10-minute batch window; each day's
# dict also streams to stderr so a truncated run loses nothing)
SURFACES = __import__("os").environ.get("PROBE_SURFACES", "both")
PROBE_PER_DAY = 100
THRESH = 0.2


def _summary(days: list[dict], probe_key: str = "probe_sec") -> dict:
    first, last = days[0], days[-1]
    return {
        "corpus_growth": round(last["corpus_docs"] / first["corpus_docs"], 1),
        "probe_time_growth": round(last[probe_key] / first[probe_key], 2),
        "probe_first_day_sec": first[probe_key],
        "probe_last_day_sec": last[probe_key],
        "hits_first_day": first["probe_hits"],
        "hits_last_day": last["probe_hits"],
    }


def _neardup_series(spark, docs, n: int) -> tuple[list[dict], int]:
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex
    from tools.scale_trend_llm import _cipher_docs

    all_copies = _cipher_docs(docs, DAYS, n)
    # fixed external probe set: PROBE_PER_DAY docs per copy, ids
    # shifted far above the corpus id space so no accidental id
    # collisions muddy the pair sets
    probe_set = (
        all_copies.filter(F.col("doc_id") % (n // PROBE_PER_DAY) == 0)
        .select((F.col("doc_id") + DAYS * n * 10).alias("doc_id"), "text")
    )
    probe_set = probe_set.localCheckpoint()  # freeze: same bytes every day
    n_probe = probe_set.count()

    idx = IncrementalNearDupIndex(spark, "probe_growth_idx")
    idx.drop()
    days: list[dict] = []
    for d in range(DAYS):
        day_slice = all_copies.filter(
            (F.col("doc_id") >= d * n) & (F.col("doc_id") < (d + 1) * n)
        )
        t0 = time.perf_counter()
        idx.ingest(day_slice, threshold=THRESH)
        ingest_s = time.perf_counter() - t0
        compacted = None
        if (d + 1) % COMPACT_EVERY == 0:
            compacted = idx.compact()
        idx.probe_external(probe_set, threshold=THRESH).count()  # warm
        t0 = time.perf_counter()
        hits = idx.probe_external(probe_set, threshold=THRESH).count()
        probe_s = time.perf_counter() - t0
        days.append(
            {
                "day": d + 1,
                "corpus_docs": (d + 1) * n,
                "ingest_sec": round(ingest_s, 3),
                "probe_sec": round(probe_s, 3),
                "probe_hits": hits,
                "compacted": {k: list(v) for k, v in compacted.items()}
                if compacted
                else None,
            }
        )
        print(f"# neardup {days[-1]}", file=sys.stderr)
    idx.drop()
    return days, n_probe


def _ivfpq_series(spark, sf_dir: str) -> tuple[list[dict], int]:
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.fixtures import load_table
    from tools.scale_trend_llm import _rot_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    ne = emb.count()
    all_rot = _rot_embeddings(emb, DAYS, ne)
    # fixed query set: the first 100 original vectors, ids shifted out
    # of the corpus id space (same freeze rationale as the doc probe)
    queries = (
        emb.filter(F.col("vec_id") < 100)
        .select((F.col("vec_id") + DAYS * ne * 10).alias("vec_id"), "embedding")
        .localCheckpoint()
    )
    nq = queries.count()

    # r16 knobs: the soak's probe-growth LAW is probe cost ~ corpus *
    # nprobe/nlist at a frozen coarse quantizer — flat is impossible,
    # the lever is the fraction. PROBE_IVFPQ_NLIST / PROBE_IVFPQ_NPROBE
    # let a second soak line measure the lever directly (e.g. nlist=64
    # at the same nprobe=8 probes 1/8 instead of 1/2 of the corpus, and
    # the r16 bucket pushdown keeps the ADC reconstruction off the
    # other 7/8 — num_buckets follows nlist so bucket pruning maps 1:1
    # to lists).
    import os as _os

    nlist = int(_os.environ.get("PROBE_IVFPQ_NLIST", "16"))
    nprobe = int(_os.environ.get("PROBE_IVFPQ_NPROBE", "8"))
    # r17: PROBE_IVFPQ_REBUCKET=<nlist'> runs the re-bucketing
    # compaction AFTER the last day and measures one more probe pair —
    # the lever the r16 soak identified (nlist) applied in place via
    # rebucket() instead of a full rebuild
    rebucket_to = int(_os.environ.get("PROBE_IVFPQ_REBUCKET", "0"))
    # r18 (r17 verdict task 4): PROBE_IVFPQ_AUTO=<max_per_list> runs
    # maybe_rebucket() at the DAILY compaction cadence — the policy
    # hook itself, not a manual day-30 trigger. The soak then shows
    # the rebucket firing AT the measured crossing (codes/nlist >
    # max_per_list) and the probe curve flattening with no manual
    # intervention; non-firing days record the one-count check cost.
    auto_per_list = int(_os.environ.get("PROBE_IVFPQ_AUTO", "0"))
    # geometry pinned to the r14-r16 soak artifacts (m=8/ksub=16);
    # class defaults moved to the measured recall sizing in r17
    idx = IncrementalIVFPQIndex(
        spark, f"probe_growth_ivfpq_nl{nlist}", nlist=nlist,
        m=8, ksub=16, num_buckets=max(8, nlist),
    )
    idx.drop()
    days: list[dict] = []
    for d in range(DAYS):
        day_slice = all_rot.filter(
            (F.col("vec_id") >= d * ne) & (F.col("vec_id") < (d + 1) * ne)
        )
        t0 = time.perf_counter()
        if d == 0:
            idx.init(day_slice)  # freezes both quantizers on day 1
        else:
            idx.ingest(day_slice)
        append_s = time.perf_counter() - t0
        compacted = None
        if (d + 1) % COMPACT_EVERY == 0:
            compacted = idx.compact()
        auto_fired = None
        auto_s = 0.0
        if auto_per_list:
            grown = all_rot.filter(F.col("vec_id") < (d + 1) * ne)
            t0 = time.perf_counter()
            auto_fired = idx.maybe_rebucket(grown, max_per_list=auto_per_list)
            auto_s = time.perf_counter() - t0
        idx.topk(queries, k=10, nprobe=nprobe).count()  # warm
        t0 = time.perf_counter()
        hits = idx.topk(queries, k=10, nprobe=nprobe).count()
        probe_s = time.perf_counter() - t0
        day_row = {
            "day": d + 1,
            "corpus_docs": (d + 1) * ne,
            "ingest_sec": round(append_s, 3),
            "probe_sec": round(probe_s, 3),
            "probe_hits": hits,
            "compacted": {k: list(v) for k, v in compacted.items()}
            if compacted
            else None,
        }
        if auto_per_list:
            day_row["nlist"] = idx.nlist
            day_row["auto_rebucket_sec"] = round(auto_s, 3)
            if auto_fired:
                day_row["auto_rebucket_fired_to"] = auto_fired
        days.append(day_row)
        print(f"# ivfpq {days[-1]}", file=sys.stderr)
    if rebucket_to:
        # the grown index re-buckets to the bigger geometry in place:
        # num_buckets stays as constructed (bucket pruning still maps
        # to the In() pushdown; the nlist' lever is the probed FRACTION)
        grown = all_rot.filter(F.col("vec_id") < DAYS * ne)
        t0 = time.perf_counter()
        idx.rebucket(grown, rebucket_to)
        rb_s = time.perf_counter() - t0
        idx.topk(queries, k=10, nprobe=nprobe).count()  # warm
        t0 = time.perf_counter()
        hits = idx.topk(queries, k=10, nprobe=nprobe).count()
        probe_s = time.perf_counter() - t0
        days.append(
            {
                "day": f"rebucket_to_{rebucket_to}",
                "corpus_docs": DAYS * ne,
                "ingest_sec": round(rb_s, 3),
                "probe_sec": round(probe_s, 3),
                "probe_hits": hits,
                "compacted": None,
            }
        )
        print(f"# ivfpq {days[-1]}", file=sys.stderr)
    idx.drop()
    return days, nq


def _bm25_series(spark, docs, n: int) -> tuple[list[dict], int]:
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalBM25Index
    from tools.scale_trend_llm import _cipher_docs

    all_copies = _cipher_docs(docs, DAYS, n)
    # r15: fixed BOUNDED query set — PROBE_PER_DAY docs from copy 0
    # only (the production probe contract: |queries| << |corpus|, same
    # as every ANN batch). The r14 scheme sampled every copy, which
    # made the probe-side VOCABULARY grow with DAYS and (together with
    # the then-unfiltered corpus scan) measured a corpus-linear probe;
    # with the bounded set, topk()'s term pushdown prunes the postings
    # scan to the query terms' buckets/row-groups and the claim under
    # test is the right one: probe cost bounded while the corpus grows
    # DAYS x. Hits are constant (~10 per query against copy-0 docs)
    # by the disjoint-vocab construction.
    queries = (
        all_copies.filter(
            (F.col("doc_id") < n) & (F.col("doc_id") % (n // PROBE_PER_DAY) == 0)
        )
        .select((F.col("doc_id") + DAYS * n * 10).alias("doc_id"), "text")
        .localCheckpoint()
    )
    nq = queries.count()

    idx = IncrementalBM25Index(spark, "probe_growth_bm25")
    idx.drop()
    days: list[dict] = []
    for d in range(DAYS):
        day_slice = all_copies.filter(
            (F.col("doc_id") >= d * n) & (F.col("doc_id") < (d + 1) * n)
        )
        t0 = time.perf_counter()
        idx.ingest(day_slice)
        ingest_s = time.perf_counter() - t0
        compacted = None
        if (d + 1) % COMPACT_EVERY == 0:
            compacted = idx.compact()
        idx.topk(queries, k=10).count()  # warm
        t0 = time.perf_counter()
        hits = idx.topk(queries, k=10).count()
        probe_s = time.perf_counter() - t0
        days.append(
            {
                "day": d + 1,
                "corpus_docs": (d + 1) * n,
                "ingest_sec": round(ingest_s, 3),
                "probe_sec": round(probe_s, 3),
                "probe_hits": hits,
                "compacted": {k: list(v) for k, v in compacted.items()}
                if compacted
                else None,
            }
        )
        print(f"# bm25 {days[-1]}", file=sys.stderr)
    idx.drop()
    return days, nq


def _ulm_series(spark, docs, n: int) -> tuple[list[dict], int]:
    """The unigram-LM surface (late r14, sixth incremental surface):
    one cipher copy ingested per day; a FIXED external probe set (ids
    shifted out of the corpus space, PROBE_PER_DAY docs per copy) is
    scored read-only after every ingest — the production shape where
    yesterday's LM scores today's candidate feed. probe_hits counts
    the probe docs the growing LM puts in the 'tail' bucket (the
    statistic a quality gate thresholds on); drift_sec times the
    per-slice TV probe of the same frame."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalUnigramLM
    from tools.scale_trend_llm import _cipher_docs

    all_copies = _cipher_docs(docs, DAYS, n)
    queries = (
        all_copies.filter(F.col("doc_id") % (n // PROBE_PER_DAY) == 0)
        .select(
            (F.col("doc_id") + DAYS * n * 10).alias("doc_id"),
            "text",
            "lang",
        )
        .localCheckpoint()
    )
    nq = queries.count()

    lm = IncrementalUnigramLM(spark, "probe_growth_ulm")
    lm.drop()
    days: list[dict] = []
    for d in range(DAYS):
        day_slice = all_copies.filter(
            (F.col("doc_id") >= d * n) & (F.col("doc_id") < (d + 1) * n)
        )
        t0 = time.perf_counter()
        lm.ingest(day_slice)
        ingest_s = time.perf_counter() - t0
        compacted = None
        if (d + 1) % COMPACT_EVERY == 0:
            compacted = lm.compact()
        lm.score(queries).count()  # warm
        t0 = time.perf_counter()
        hits = lm.score(queries).filter("bucket = 'tail'").count()
        probe_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        lm.drift(queries, slice_col="lang").count()
        drift_s = time.perf_counter() - t0
        days.append(
            {
                "day": d + 1,
                "corpus_docs": (d + 1) * n,
                "ingest_sec": round(ingest_s, 3),
                "probe_sec": round(probe_s, 3),
                "drift_sec": round(drift_s, 3),
                "probe_hits": hits,
                "compacted": {k: list(v) for k, v in compacted.items()}
                if compacted
                else None,
            }
        )
        print(f"# ulm {days[-1]}", file=sys.stderr)
    lm.drop()
    return days, nq


def _dsir_series(spark, docs, n: int) -> tuple[list[dict], int]:
    """The DSIR surface (late r14, seventh incremental surface): one
    cipher copy ingested per day; a FIXED external candidate set (ids
    shifted out of the corpus space, PROBE_PER_DAY docs per copy)
    probes the standing importance model read-only after every ingest
    — yesterday's model scoring today's crawl. probe_hits counts the
    candidates the model keeps at k=100 (ties survive, so >= 100)."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalDSIRModel
    from tools.scale_trend_llm import _cipher_docs

    all_copies = _cipher_docs(docs, DAYS, n)
    probe = (
        all_copies.filter(F.col("doc_id") % (n // PROBE_PER_DAY) == 0)
        .select(
            (F.col("doc_id") + DAYS * n * 10).alias("doc_id"),
            "lang",
            "text",
        )
        .localCheckpoint()
    )
    nq = probe.count()

    m = IncrementalDSIRModel(spark, "probe_growth_dsir")
    m.drop()
    days: list[dict] = []
    for d in range(DAYS):
        day_slice = all_copies.filter(
            (F.col("doc_id") >= d * n) & (F.col("doc_id") < (d + 1) * n)
        )
        t0 = time.perf_counter()
        m.ingest(day_slice)
        ingest_s = time.perf_counter() - t0
        compacted = None
        if (d + 1) % COMPACT_EVERY == 0:
            compacted = m.compact()
        m.select(probe, k=100).count()  # warm
        t0 = time.perf_counter()
        hits = m.select(probe, k=100).count()
        probe_s = time.perf_counter() - t0
        days.append(
            {
                "day": d + 1,
                "corpus_docs": (d + 1) * n,
                "ingest_sec": round(ingest_s, 3),
                "probe_sec": round(probe_s, 3),
                "probe_hits": hits,
                "compacted": {k: list(v) for k, v in compacted.items()}
                if compacted
                else None,
            }
        )
        print(f"# dsir {days[-1]}", file=sys.stderr)
    m.drop()
    return days, nq


def main() -> None:
    from dagster_etl_spark.session import get_spark
    from dagster_etl_spark.sources.fixtures import load_table

    spark = get_spark("probe-growth")
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()

    out: dict = {
        "sf_dir": SF_DIR,
        "days": DAYS,
        "compact_every": COMPACT_EVERY,
    }
    if SURFACES in ("neardup", "both"):
        nd_days, n_probe = _neardup_series(spark, docs, n)
        out["neardup"] = {
            "probe_docs": n_probe,
            "series": nd_days,
            "summary": _summary(nd_days),
        }
    if SURFACES in ("ivfpq", "both"):
        pq_days, n_queries = _ivfpq_series(spark, SF_DIR)
        daily = [d for d in pq_days if isinstance(d["day"], int)]
        out["ivfpq"] = {
            "query_vectors": n_queries,
            "series": pq_days,
            "summary": _summary(daily),
        }
        rb = [d for d in pq_days if not isinstance(d["day"], int)]
        if rb:
            out["ivfpq"]["rebucket"] = rb[0]
    if SURFACES == "bm25":
        bm_days, n_q = _bm25_series(spark, docs, n)
        out["bm25"] = {
            "query_docs": n_q,
            "series": bm_days,
            "summary": _summary(bm_days),
        }
    if SURFACES == "ulm":
        lm_days, n_q = _ulm_series(spark, docs, n)
        out["ulm"] = {
            "probe_docs": n_q,
            "series": lm_days,
            "summary": _summary(lm_days),
        }
    if SURFACES == "dsir":
        ds_days, n_q = _dsir_series(spark, docs, n)
        out["dsir"] = {
            "probe_docs": n_q,
            "series": ds_days,
            "summary": _summary(ds_days),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
