"""End-to-end STAGED curation DAG at x100 through the orchestration
graft (r15 verdict task 6).

The single-plan composition (curation_pipeline_v2) has x100/x200 trend
rows (SCALETREND_CUR_r10); what was never measured is the shape a
production curation run actually ships: SEPARATE STAGES with lake-path
handoff (each stage writes a partition, the next stage cold-reads it),
driven through the orchestration graft's structured stage logging
(EtlLogger.timed_stage + RunContext — the reference's
etl/utils/logging.py stage-event shape). Staged handoff is the honest
100 TB posture — a real DAG checkpoint-materializes between stages so
a stage failure re-runs one stage, not the lineage — and it costs
extra scan+write per boundary, which this tool MEASURES instead of
inferring.

Stages (the standard crawl-curation order):

  1 gopher        — structural gate (scan-local, keep = all flags pass)
  2 classifier    — fastText-shape model gate (broadcast model join,
                    keep = logit >= 0), r16 composed-bucket features
  3 dedup         — MinHash+LSH pairs -> connected components ->
                    min-id survivor per cluster
  4 decontaminate — span-level benchmark excision
                    (scrub_benchmark_spans vs the 1-in-17 id slice)
  5 pack          — chunk + greedy 512-token first-fit packing

Per stage: wall seconds (write-inclusive — the handoff IS the cost),
rows in/out, and the executed plan's shuffle-exchange count (same
regex as tests/test_plans.py's budget test), asserted against a
per-stage budget so a shuffle regression fails the artifact run, not
just a code review.

Usage: python tools/scale_trend_curation_x100.py [sf_dir] [mult]
Defaults: /root/testdata/sf0.1 and x100. Prints one JSON line
(redirect to SCALETREND_CURATION_X100_r16.json).
"""

from __future__ import annotations

import json
import re
import string
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
MULT = int(sys.argv[2]) if len(sys.argv) > 2 else 100

# Shuffle budgets per stage (the assertion that makes this an audit,
# not a stopwatch): gopher is scan-local but the handoff write may
# AQE-coalesce; classifier adds the per-doc aggregate; dedup owns the
# band/verify/CC machinery; decontaminate is the bench semi-join +
# island window + array rebuild; pack is one bucket window.
EXCHANGE_BUDGET = {
    "gopher": 1,
    "classifier": 4,
    # the dedup stage's final plan carries the band/verify machinery
    # PLUS the connected-components fixpoint's checkpointed lineage
    # (each CC iteration contributes its own exchanges — the registered
    # dedup_clusters query is excluded from the test_plans audit for
    # the same reason); 30 covered the bounded-iteration worst case
    # pre-r18. r18's exact-dup collapse (md5 group + rep joins) adds
    # ~1-2 SMALL-side exchanges that remove the quadratic clique
    # volume from every fixpoint round (x200 measured 31 exchanges,
    # stage wall 32.7 -> 16.8 s; ablation in DEDUPABLATE_X200_r18)
    "dedup": 34,
    "decontaminate": 8,
    "pack": 3,
}


def _cipher_docs(docs, k: int, n: int):
    """K textually-distinct copies via per-copy letter translation
    (same axis as tools/scale_trend_llm.py)."""
    from pyspark.sql import functions as F

    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    parts = []
    for i in range(k):
        if i == 0:
            t = F.col("text")
        else:
            r1 = i % 25 + 1
            r2 = (i // 25) % 26
            t = F.translate(
                F.col("text"),
                lower + upper,
                lower[r1:] + lower[:r1] + upper[r2:] + upper[:r2],
            )
        parts.append(
            docs.select(
                (F.col("doc_id") + i * n).alias("doc_id"),
                t.alias("text"),
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.dedup import (
        dedup_clusters,
        scrub_benchmark_spans,
    )
    from dagster_etl_spark.functions import xdialect as x
    from dagster_etl_spark.operators.text import (
        chunk_docs,
        pack_chunks,
        quality_classifier_score,
    )
    from dagster_etl_spark.orchestration.logging import EtlLogger
    from dagster_etl_spark.orchestration.pipeline import RunContext
    from dagster_etl_spark.plans.cache import release_pinned
    from dagster_etl_spark.scratch import scratch_dir
    from dagster_etl_spark.session import get_spark
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.sources.lake import read_partition, write_partition

    spark = get_spark("curation-x100")
    base = scratch_dir(f"curation_x{MULT}_lake")
    tenant = "tenant_x100"
    date = "2026-08-16"
    ctx = RunContext()
    log = EtlLogger("curation_x100", fields={"tenant": tenant}, run_ctx=ctx)

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source"
    )
    n = docs.count()
    corpus = _cipher_docs(docs, MULT, n) if MULT > 1 else docs
    write_partition(corpus.repartition(32), base, tenant, "raw", "docs", date)

    stages: dict[str, dict] = {}

    def run_stage(name: str, in_job: str, out_job: str, fn) -> None:
        src = read_partition(spark, base, tenant, "raw" if in_job == "docs" else "stage", in_job, date)
        rows_in = src.count()
        # the wall wraps BUILD + WRITE: stages with eager machinery
        # (dedup's connected-components fixpoint checkpoints during the
        # build) spend their time before the write starts
        t0 = time.perf_counter()
        with log.timed_stage(name) as st:
            out_df = fn(src)
            plan = out_df._jdf.queryExecution().executedPlan().toString()
            n_ex = len(
                re.findall(r"\bExchange (?:hash|range|Single|RoundRobin)", plan)
            )
            budget = EXCHANGE_BUDGET[name]
            assert n_ex <= budget, (
                f"stage {name} plans {n_ex} shuffle exchanges, budget {budget}"
            )
            write_partition(out_df, base, tenant, "stage", out_job, date)
            rows_out = read_partition(
                spark, base, tenant, "stage", out_job, date
            ).count()
            st.rows = rows_out
        wall = time.perf_counter() - t0
        release_pinned()
        stages[name] = {
            "rows_in": rows_in,
            "rows_out": rows_out,
            "wall_sec": round(wall, 3),
            "exchanges": n_ex,
            "exchange_budget": budget,
        }
        print(
            f"# {name}: {rows_in} -> {rows_out} rows, {wall:.1f}s, "
            f"{n_ex}/{budget} exchanges",
            file=sys.stderr,
        )

    # 1 gopher: structural gate — SCAN-LOCAL by construction (the
    # flags are per-row expressions; joining gopher_quality back on
    # doc_id would turn a 0-exchange filter into a corpus self-join
    # that stops broadcasting at x100)
    def s_gopher(src):
        from dagster_etl_spark.operators.text import (
            _let_cols,
            gopher_quality_exprs,
        )

        e = {"keep": gopher_quality_exprs("text", x.SPARK, tok="_t")["keep"]}
        return (
            src.selectExpr("doc_id", "text", "source", *_let_cols(e, "text", "_t"))
            .filter(F.col("keep") == 1)
            .select("doc_id", "text", "source")
        )

    run_stage("gopher", "docs", "gopher_kept", s_gopher)

    # 2 classifier: model gate over the structural survivors
    def s_classifier(src):
        scored = quality_classifier_score(src).select("doc_id", "keep")
        return (
            src.join(scored, on="doc_id")
            .filter(F.col("keep"))
            .select("doc_id", "text", "source")
        )

    run_stage("classifier", "gopher_kept", "clf_kept", s_classifier)

    # 3 dedup: near-dup clusters, min-id canonical survivor.
    # CURATION_DEDUP_COLLAPSE toggles the exact-dup collapse for the
    # ablation artifact (DEDUPABLATE_X200_r18) — results are
    # collapse-invariant (property-tested), only the walls move. The
    # default follows the library default (collapse on).
    import os as _os

    _collapse = _os.environ.get("CURATION_DEDUP_COLLAPSE", "1") == "1"

    def s_dedup(src):
        cl = dedup_clusters(src, threshold=0.5, collapse_exact=_collapse)
        return (
            src.join(cl.filter("is_canonical").select("doc_id"), on="doc_id")
            .select("doc_id", "text", "source")
        )

    run_stage("dedup", "clf_kept", "dedup_kept", s_dedup)

    # 4 decontaminate: span-excise 13-gram overlaps with the benchmark
    # slice (every 17th ORIGINAL doc id — grows with the corpus, the
    # worst case for the bench side)
    def s_decon(src):
        bench = (
            read_partition(spark, base, tenant, "raw", "docs", date)
            .filter("doc_id % 17 = 0")
            .select("doc_id", "text")
        )
        train = src.filter("doc_id % 17 != 0")
        scrubbed = scrub_benchmark_spans(train, bench)
        return scrubbed.join(
            src.select("doc_id", "source"), on="doc_id"
        ).select("doc_id", "text", "source", "n_removed_tokens")

    run_stage("decontaminate", "dedup_kept", "decon", s_decon)

    # 5 pack: chunk + 512-token first-fit packing
    def s_pack(src):
        return pack_chunks(chunk_docs(src.select("doc_id", "text")))

    run_stage("pack", "decon", "packed", s_pack)

    out = {
        "sf_dir": SF_DIR,
        "mult": MULT,
        "corpus_docs": int(n * MULT),
        "stages": stages,
        "total_wall_sec": round(sum(s["wall_sec"] for s in stages.values()), 3),
        "stage_events_recorded": len(ctx.records),
        "methodology": (
            "staged DAG with lake-partition handoff "
            "(write_partition/read_partition per boundary, "
            "write-inclusive walls), driven through the orchestration "
            "graft's EtlLogger/RunContext stage events; per-stage "
            "executed-plan shuffle-exchange counts asserted against "
            "budgets (test_plans.py regex). Cipher x-axis: per-copy "
            "letter translation, disjoint vocab per copy."
        ),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
