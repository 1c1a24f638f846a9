"""Multi-day cadence soak for the incremental surfaces (r11 verdict
task 2): SCALETREND_INGEST_r11 proved THREE ingests are flat; a daily
pipeline runs 30+. This simulates ~30 date-sliced ingests on each
surface with compact() interleaved every 7 slices — the realistic
maintenance cadence (weekly compaction over daily ingest, the same
lifecycle as the reference's daily date=YYYYMMDD partition appends at
etl/resources/s3.py:139-151 plus periodic table maintenance).

Measured per surface:
* the full 30-point per-slice ingest series (the flatness claim: day
  30's ingest must cost what day 1's did, within spread);
* each compact's cost and files before/after (fragmentation really
  accumulates — up to num_buckets files per append — and compaction
  really collapses it);
* a standing-query time immediately BEFORE and AFTER each compact
  (what the fragmentation costs readers, and what compaction buys
  back);
* at slice 30: the co-located join still plans with ZERO exchanges
  and the bucket specs survived every compact (hard assertions, not
  just recorded numbers).

Surfaces and their daily slices (all sf0.1-sized, textually/id
distinct per day via the same cipher/rotation scheme as
scale_trend_ingest.py):
* BucketedPipeline.append   — 1/30th of lineitem per day (arrival
  sliced by order key), dim side static;
* IncrementalNearDupIndex.ingest — one ciphered documents copy per
  day (5k docs);
* IncrementalANNIndex.ingest — one rotated embeddings copy per day
  (2k vectors);
* IncrementalIVFPQIndex.ingest (r12, the 4th incremental surface) —
  the same rotated embeddings slice encoded against the frozen
  IVF+PQ quantizers into the bucketed 8-byte-code table.

Usage: python tools/cadence_soak.py [sf_dir] [days] [compact_every]
Defaults: /root/testdata/sf0.1, 30 days, compact every 7.
Prints one JSON line (redirect to SCALETREND_INGEST_r12.json).
"""

from __future__ import annotations

import json
import string
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DAYS = int(sys.argv[2]) if len(sys.argv) > 2 else 30
COMPACT_EVERY = int(sys.argv[3]) if len(sys.argv) > 3 else 7


def _doc_slice(docs, day: int, n: int):
    """Day ``day``'s document arrivals: fresh ids, per-day cipher."""
    from pyspark.sql import functions as F

    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    r1, r2 = day % 25 + 1, (day // 25) % 26
    return docs.select(
        (F.col("doc_id") + day * n).alias("doc_id"),
        F.translate(
            F.col("text"),
            lower + upper,
            lower[r1:] + lower[:r1] + upper[r2:] + upper[:r2],
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )


def _emb_slice(emb, day: int, n: int, dim: int = 64):
    from pyspark.sql import functions as F

    r = (day + 1) % dim
    return emb.select(
        (F.col("vec_id") + day * n).alias("vec_id"),
        F.concat(
            F.slice("embedding", r + 1, dim - r), F.slice("embedding", 1, r)
        ).alias("embedding"),
        "label",
    )


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def main() -> None:
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex
    from dagster_etl_spark.operators.similarity import (
        IncrementalANNIndex,
        IncrementalIVFPQIndex,
    )
    from dagster_etl_spark.session import get_spark
    from dagster_etl_spark.sources.bucketed import (
        BucketedPipeline,
        bucket_spec,
        exchanges_in_plan,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    spark = get_spark("cadence-soak")

    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    emb = load_table(spark, SF_DIR, "embeddings")
    n_emb = emb.count()
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_brand", "p_type"
    )
    q_emb = emb.filter("vec_id < 5")

    nd = IncrementalNearDupIndex(spark, "soak_nd")
    nd.drop()
    ann = IncrementalANNIndex(spark, "soak_ann")
    ivfpq = IncrementalIVFPQIndex(spark, "soak_ivfpq")
    pipe = BucketedPipeline(
        spark, "soak_pipe", fact_key="l_partkey", dim_key="p_partkey"
    )

    def _fact_slice(day: int):
        return li.filter(F.pmod(F.col("l_orderkey"), F.lit(DAYS)) == day)

    def _q_bucketed():
        return (
            pipe.join()
            .groupBy("p_brand")
            .agg(F.sum("l_quantity").alias("qty"))
            .count()
        )

    def _q_neardup():
        return nd.pairs().count()

    def _q_ann():
        return ann.topk(q_emb, k=10, nprobe=8).count()

    def _q_ivfpq():
        return ivfpq.topk(q_emb, k=10, nprobe=8, rerank_source=emb).count()

    surfaces: dict[str, dict] = {
        "bucketed": {"ingest_secs": [], "compacts": []},
        "neardup": {"ingest_secs": [], "compacts": []},
        "ann": {"ingest_secs": [], "compacts": []},
        "ivfpq": {"ingest_secs": [], "compacts": []},
    }

    for day in range(DAYS):
        dsl = _doc_slice(docs, day, n_docs)
        esl = _emb_slice(emb, day, n_emb)
        fsl = _fact_slice(day)

        if day == 0:
            s, _ = _timed(lambda: pipe.load_full(fsl, part))
        else:
            s, _ = _timed(lambda: pipe.append(fact=fsl))
        surfaces["bucketed"]["ingest_secs"].append(round(s, 3))

        s, _ = _timed(lambda: nd.ingest(dsl, threshold=0.2))
        surfaces["neardup"]["ingest_secs"].append(round(s, 3))

        if day == 0:
            s, _ = _timed(lambda: ann.init(esl))
        else:
            s, _ = _timed(lambda: ann.ingest(esl))
        surfaces["ann"]["ingest_secs"].append(round(s, 3))

        if day == 0:
            s, _ = _timed(lambda: ivfpq.init(esl))
        else:
            s, _ = _timed(lambda: ivfpq.ingest(esl))
        surfaces["ivfpq"]["ingest_secs"].append(round(s, 3))

        print(
            f"# day {day}: bucketed {surfaces['bucketed']['ingest_secs'][-1]}s "
            f"neardup {surfaces['neardup']['ingest_secs'][-1]}s "
            f"ann {surfaces['ann']['ingest_secs'][-1]}s "
            f"ivfpq {surfaces['ivfpq']['ingest_secs'][-1]}s",
            file=sys.stderr,
        )

        if (day + 1) % COMPACT_EVERY == 0:
            for name, obj, q in (
                ("bucketed", pipe, _q_bucketed),
                ("neardup", nd, _q_neardup),
                ("ann", ann, _q_ann),
                ("ivfpq", ivfpq, _q_ivfpq),
            ):
                pre_q, _ = _timed(q)
                c_sec, report = _timed(obj.compact)
                post_q, _ = _timed(q)
                surfaces[name]["compacts"].append(
                    {
                        "after_day": day,
                        "compact_sec": round(c_sec, 3),
                        "files": {
                            t: {"before": b, "after": a}
                            for t, (b, a) in report.items()
                        },
                        "query_sec_pre": round(pre_q, 3),
                        "query_sec_post": round(post_q, 3),
                    }
                )
                print(
                    f"#   compact {name}: {c_sec:.1f}s "
                    f"{report} query {pre_q:.2f}->{post_q:.2f}s",
                    file=sys.stderr,
                )

    # -- hard assertions at day 30 (not just recorded numbers) --
    joined = pipe.join()
    n_ex = exchanges_in_plan(joined)
    assert n_ex == 0, f"bucketed join gained {n_ex} exchanges by day {DAYS}"
    assert bucket_spec(spark, pipe.fact_table)[0] == pipe.num_buckets
    assert bucket_spec(spark, nd.bands_table)[1] == ["bkey"]
    assert bucket_spec(spark, nd.hashes_table)[1] == ["doc_id"]
    assert bucket_spec(spark, ann.vectors_table)[1] == ["bucket"]
    assert bucket_spec(spark, ivfpq.codes_table)[1] == ["bucket"]

    # final standing state
    finals = {
        "bucketed_fact_rows": spark.table(pipe.fact_table).count(),
        "neardup_corpus_docs": spark.table(nd.hashes_table).count(),
        "neardup_pairs": nd.pairs().count(),
        "ann_vectors": spark.table(ann.vectors_table).count(),
        "ivfpq_codes": spark.table(ivfpq.codes_table).count(),
        "join_exchanges_at_day30": n_ex,
    }

    for obj in (nd, ann, ivfpq):
        obj.drop()
    for t in (pipe.fact_table, pipe.dim_table):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def _series_stats(xs):
        first, last = xs[1], xs[-1]  # xs[0] is the init/load_full day
        mid = sorted(xs[1:])[len(xs[1:]) // 2]
        return {"day1": first, f"day{len(xs) - 1}": last, "median": mid}

    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "days": DAYS,
                "compact_every": COMPACT_EVERY,
                "methodology": "30 date-sliced daily ingests per "
                "incremental surface (fresh ids + per-day cipher/"
                "rotation, sf0.1-sized slices), compact() every "
                f"{COMPACT_EVERY} slices; per-slice ingest series, "
                "compact cost + file collapse, standing-query time "
                "pre/post each compact, and hard day-30 assertions: "
                "fact-dim join plans with 0 exchanges, all bucket "
                "specs preserved. day 0 in each series is the "
                "init/load_full (O(first slice)), not an append.",
                "surfaces": surfaces,
                "ingest_flatness": {
                    k: _series_stats(v["ingest_secs"])
                    for k, v in surfaces.items()
                },
                "finals": finals,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
