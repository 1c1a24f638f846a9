"""Probe-only cross-engine pairing for the standing IVF-PQ index
(r16 verdict task 2, closure path (b)).

The registered ``ivf_pq_ann_incremental`` query is BUILD-INCLUSIVE:
each run re-freezes the quantizers, re-encodes the whole corpus, and
searches — so its scale-trend row (SCALETREND_LLM_X100_r16: 3.3x /
3.3x / 3.0x single-process at x10/x50/x100) measures the one-shot
REBUILD constant, not the recurring path. A production standing index
pays the build once and probes daily; the 30-day soak
(PROBEGROWTH_r16) already shows the Spark-side recurring path healthy
(probe cost falling 0.75x over a 30x corpus at nlist=64). What was
missing is the cross-engine number for that recurring path: DuckDB
probing the SAME COMMITTED STATE.

Protocol per multiplier:

1. materialize the rotated-embeddings corpus (the scale_trend_llm
   axis — vec_id shifted, vector rotated, norms preserved) to scratch
   parquet both engines read;
2. build the standing index ONCE, untimed for the pairing (recorded
   separately as ``rebuild_sec`` — the documented rebuild cost), at
   the registered gate geometry (nlist=16, m=8, ksub=16), init on the
   vec_id % 3 = 0 slice + two appends, then compact();
3. pair the PROBE: Spark ``idx.topk(queries, k=10, nprobe=8,
   rerank=50, rerank_source)`` vs DuckDB replaying the identical
   three-stage search (probe ranking, ADC over reconstructions, exact
   rerank) FROM THE COMMITTED TABLES — centroids / codebooks / codes
   parquet read straight out of the warehouse, stored rn included, so
   neither engine re-derives any quantizer state;
4. result-set equality is asserted once per multiplier (same rows,
   both engines) before timing; then RUNS interleaved (duck, spark)
   pairs, medians and spreads reported.

Usage: python tools/probe_pair_ivfpq.py [sf_dir] [mult ...]
Defaults: /root/testdata/sf0.1 and multipliers 10 50 100.
Prints one JSON line (redirect to SCALETREND_IVFPQ_PROBE_r{N}.json).
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
MULTS = [int(a) for a in sys.argv[2:]] or [10, 50, 100]
RUNS = 3
DIM = 64
NLIST, M, KSUB = 16, 8, 16
NPROBE, RERANK, K = 8, 50, 10


def _probe_sql(
    emb_path: str, cent: str, codes: str,
    books: list[list[list[float]]],
) -> str:
    """The three-stage standing-index search in DuckDB SQL, reading
    the COMMITTED state (no quantizer re-derivation): probe ranking by
    max dot against the stored centroids (ties cidx DESC — the same
    rule as _topn_centroid_buckets_expr's struct sort), reconstruction
    via LITERAL codebook lookups on the stored codes (the exact plan
    shape Spark's pq_reconstruct_expr uses — handing DuckDB the same
    constant-folding opportunity instead of a join-aggregate), ADC
    with the STORED rn, top-RERANK, exact-cosine rerank, top-K."""
    from dagster_etl_spark.functions import xdialect as x

    qdot = x.dot_chain("q.embedding", "c.cv", DIM, x.DUCK)
    adc_dot = x.dot_chain("q.embedding", "r.rv", DIM, x.DUCK)
    qn = x.norm_chain("q.embedding", DIM, x.DUCK)
    cos = x.cosine("q2.embedding", "n.embedding", DIM, x.DUCK)
    # rv as m per-subspace literal lookups, concatenated — the DuckDB
    # twin of pq_reconstruct_expr's plan-constant form
    rv_parts = []
    for j, book in enumerate(books):
        lits = ", ".join(
            "[" + ", ".join(f"CAST({v!r} AS FLOAT)" for v in w) + "]"
            for w in book
        )
        rv_parts.append(f"([{lits}])[code_{j} + 1]")
    rv = "flatten([" + ", ".join(rv_parts) + "])"
    return f"""
WITH emb AS (
  SELECT * FROM read_parquet('{emb_path}/*.parquet')
), cents AS (
  SELECT cidx, cv FROM read_parquet('{cent}/*.parquet')
), codes AS (
  SELECT * FROM read_parquet('{codes}/*.parquet')
), iprobe AS (
  SELECT query_id, cidx AS bucket FROM (
    SELECT q.vec_id AS query_id, c.cidx,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id ORDER BY {qdot} DESC, c.cidx DESC
           ) AS r
    FROM emb q CROSS JOIN cents c WHERE q.vec_id < 5
  ) WHERE r <= {NPROBE}
), recon AS (
  -- probed-bucket restriction pushed into the reconstruction, the
  -- same pruning Spark's In(bucket) scan pushdown gives idx.topk —
  -- without it DuckDB reconstructs never-probed lists and the pairing
  -- is unfair against it
  SELECT vec_id, bucket, rn, {rv} AS rv
  FROM codes
  WHERE bucket IN (SELECT bucket FROM iprobe)
), adc_scored AS (
  SELECT p.query_id, r.vec_id AS neighbor_id,
         ({adc_dot} / nullif({qn} * r.rn, 0.0)) AS adc
  FROM iprobe p
  JOIN recon r ON r.bucket = p.bucket
  JOIN emb q ON q.vec_id = p.query_id
  WHERE r.vec_id <> p.query_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc DESC, neighbor_id
           ) AS cr
    FROM adc_scored
  ) WHERE cr <= {RERANK}
), rescored AS (
  SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
  FROM cand
  JOIN emb q2 ON q2.vec_id = cand.query_id
  JOIN emb n ON n.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM rescored
) WHERE rank <= {K}
"""


def main() -> None:
    import os

    import duckdb
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.scratch import scratch_dir
    from dagster_etl_spark.session import get_spark
    from dagster_etl_spark.sources.fixtures import load_table
    from tools.scale_trend_llm import _rot_embeddings

    # EXTERNAL idleness, captured before any Spark work (r17 verdict
    # "What's wrong"): the per-mult loadavg_at_start below is read
    # right after this tool's OWN 32-core build phase, so it mostly
    # records the build's decaying 1-min load, not contention — the
    # r17 artifact's 12-18 readings were largely self-inflicted. This
    # launch-time reading is the number the "re-confirm idle" task
    # asks for.
    load_external = round(os.getloadavg()[0], 2)

    spark = get_spark("probe-pair-ivfpq")
    from dagster_etl_spark.streaming.slicestore import _local

    warehouse = _local(spark.conf.get("spark.sql.warehouse.dir"))
    emb0 = load_table(spark, SF_DIR, "embeddings")
    ne = emb0.count()

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    out: dict = {
        "sf_dir": SF_DIR,
        "geometry": {"nlist": NLIST, "m": M, "ksub": KSUB,
                     "nprobe": NPROBE, "rerank": RERANK, "k": K},
        "loadavg_external_at_launch": load_external,
        "mults": {},
    }
    for k_mult in MULTS:
        d = scratch_dir(f"probe_pair_ivfpq_x{k_mult}")
        emb_path = f"{d}/embeddings.parquet"
        rot = _rot_embeddings(emb0, k_mult, ne) if k_mult > 1 else emb0
        rot.withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        ).repartition(32).write.mode("overwrite").parquet(emb_path)
        emb = spark.read.parquet(emb_path)
        n_vecs = emb.count()

        idx = IncrementalIVFPQIndex(
            spark, f"ppair_x{k_mult}", dim=DIM, nlist=NLIST, m=M, ksub=KSUB
        )
        t0 = time.perf_counter()
        idx.init(emb.filter("vec_id % 3 = 0"))
        idx.ingest(emb.filter("vec_id % 3 = 1"))
        idx.ingest(emb.filter("vec_id % 3 = 2"))
        rebuild_s = time.perf_counter() - t0
        idx.compact()

        queries = emb.filter("vec_id < 5")

        def spark_probe():
            return idx.topk(
                queries, k=K, nprobe=NPROBE, rerank=RERANK, rerank_source=emb
            )

        sql = _probe_sql(
            emb_path,
            f"{warehouse}/{idx.centroids_table.lower()}",
            f"{warehouse}/{idx.codes_table.lower()}",
            idx._books(),
        )
        con = duckdb.connect()

        # same committed state, same answer — assert before timing
        duck_rows = sorted(map(tuple, con.execute(sql).fetchall()))
        spark_rows = sorted(
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in spark_probe().collect()
        )
        verified = duck_rows == spark_rows
        if not verified:
            print(
                f"# x{k_mult} MISMATCH duck={len(duck_rows)} "
                f"spark={len(spark_rows)}", file=sys.stderr,
            )

        import os

        load1 = round(os.getloadavg()[0], 2)
        _noop(spark_probe())  # warm
        ducks: list[float] = []
        sparks: list[float] = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            con.execute(sql).arrow()
            ducks.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            _noop(spark_probe())
            sparks.append(time.perf_counter() - t0)
        con.close()
        dmed, smed = statistics.median(ducks), statistics.median(sparks)
        out["mults"][f"x{k_mult}"] = {
            "n_vectors": n_vecs,
            "rebuild_sec": round(rebuild_s, 3),
            "duckdb_probe_sec": round(dmed, 3),
            "spark_probe_sec": round(smed, 3),
            "ratio": round(smed / dmed, 2),
            "duck_spread_sec": round(max(ducks) - min(ducks), 3),
            "spark_spread_sec": round(max(sparks) - min(sparks), 3),
            "verified_identical_rows": verified,
            "rows": len(spark_rows),
            "loadavg_at_start": load1,
        }
        print(f"# {k_mult}x {out['mults'][f'x{k_mult}']}", file=sys.stderr)
        idx.drop()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
