"""IncrementalANNIndex search-growth knob (r11 verdict task 3).

SCALETREND_INGEST_r11 showed index search growing 1.94 -> 3.26 s over
a 10x base — O(base * nprobe / nlist) as documented. This measures the
recall/latency trade EXPLICITLY: an nprobe sweep at x50 and x100 base,
every point paired with the exact oracle's top-k over the same corpus,
with tests/test_ann_recall.py's clustered-regime floor as the gate
(recall@k >= 0.9 at nprobe=4 of nlist=16).

Vectors are synthesized CLUSTERED (16 well-separated spherical
Gaussians, the same regime as test_ann_recall.py — uniform fixture
embeddings are IVF's worst case and measure nothing but the worst
case), written to scratch parquet so Spark reads them distributed,
and ingested through the real incremental lifecycle (init slice
freezes the quantizer; remaining slices appended).

The second sweep axis is the 100 TB guidance itself: the same x100
corpus indexed at nlist=16 vs nlist=64 shows per-point latency drop
~nlist-fold at equal nprobe/nlist fraction — the measured basis for
the "grow nlist with the corpus (nlist ~ sqrt(N)), keep nprobe/nlist
fixed" rule on the class docstring.

Usage: python tools/ann_nprobe_sweep.py [mult ...]   (default 50 100)
Prints one JSON line (redirect to ANN_NPROBE_r12.json).

r16: ANN_SWEEP_SURFACES=ivf|pq|both selects the index family. ``pq``
sweeps IncrementalIVFPQIndex (frozen coarse + PQ quantizers, bucketed
8-byte codes, r16 probe pushdown) at the same multipliers: each
(nlist, nprobe) point reports ADC-only recall@10, rerank=50 recall@10
against the cold float table, and both latencies — the
recall-vs-nprobe curve the r15 verdict asked for (redirect to
ANN_NPROBE_PQ_r16.json).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

MULTS = [int(a) for a in sys.argv[1:]] or [50, 100]
SURFACES = __import__("os").environ.get("ANN_SWEEP_SURFACES", "ivf")
BASE_VECS = 2000  # one sf0.1-sized slice
DIM = 64
N_CLUSTERS = 16
N_QUERIES = 12
K = 10
RUNS = 3


def _gen_clustered(n: int, seed: int = 1234):
    """n unit-norm vectors in 16 separated Gaussian clusters + queries
    drawn near centers (same construction as tests/test_ann_recall.py,
    scaled up)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.arange(n) % N_CLUSTERS
    vecs = centers[labels] + 0.08 * rng.normal(size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype("float32")


def main() -> None:
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.similarity import (
        IncrementalANNIndex,
        cosine_topk,
    )
    from dagster_etl_spark.scratch import scratch_dir
    from dagster_etl_spark.session import get_spark

    spark = get_spark("ann-nprobe-sweep")

    out: dict = {"sweeps": {}, "nlist_rule": {}}
    for mult in MULTS:
        n = BASE_VECS * mult
        vecs = _gen_clustered(n)

        # scratch parquet -> distributed reads (no driver-side corpus)
        import pandas as pd

        path = scratch_dir(f"ann_sweep_x{mult}") + "/vectors.parquet"
        pdf = pd.DataFrame(
            {"vec_id": range(n), "embedding": [list(map(float, v)) for v in vecs]}
        )
        spark.createDataFrame(pdf).selectExpr(
            "CAST(vec_id AS BIGINT) AS vec_id",
            "CAST(embedding AS array<float>) AS embedding",
        ).repartition(32).write.mode("overwrite").parquet(path)
        corpus = spark.read.parquet(path)

        q_ids = [int(i * n / N_QUERIES) for i in range(N_QUERIES)]
        queries = corpus.filter(F.col("vec_id").isin(q_ids)).cache()
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk(queries, corpus, dim=DIM, k=K).collect()
        }

        def _sweep(nlist: int) -> list[dict]:
            idx = IncrementalANNIndex(
                spark, f"sweep_x{mult}_nl{nlist}", dim=DIM, nlist=nlist
            )
            slices = [
                corpus.filter(
                    (F.col("vec_id") >= s * BASE_VECS * 10)
                    & (F.col("vec_id") < (s + 1) * BASE_VECS * 10)
                )
                for s in range((n + BASE_VECS * 10 - 1) // (BASE_VECS * 10))
            ]
            idx.init(slices[0])
            for sl in slices[1:]:
                idx.ingest(sl)
            points = []
            for nprobe in (1, 2, 4, 8, 16):
                if nprobe > nlist:
                    continue
                secs = []
                for _ in range(RUNS):
                    t0 = time.perf_counter()
                    idx.topk(queries, k=K, nprobe=nprobe).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    secs.append(time.perf_counter() - t0)
                rows = idx.topk(queries, k=K, nprobe=nprobe).collect()
                recall = sum(
                    (r.query_id, r.neighbor_id) in exact for r in rows
                ) / len(exact)
                points.append(
                    {
                        "nprobe": nprobe,
                        "recall_at_10": round(recall, 4),
                        "search_sec": round(min(secs), 3),
                        "search_secs": [round(s, 3) for s in secs],
                    }
                )
                print(
                    f"# x{mult} nlist={nlist} nprobe={nprobe}: "
                    f"recall {recall:.3f} {min(secs):.2f}s",
                    file=sys.stderr,
                )
            idx.drop()
            return points

        def _sweep_pq(nlist: int, m: int = 16, ksub: int = 64) -> list[dict]:
            """PQ parameterization note (measured at x10 before this
            sweep): the clustered regime is PQ's WORST case — exact
            top-10 lives inside one tight cluster, so quantization
            error competes with the entire within-cluster signal. At
            the class defaults (m=8, ksub=16 — 4 B/vector) reranked
            recall@10 is ~0.1: codes collapse within a cluster and ADC
            ties. m=16, ksub=64 (12 B/vector, still 21x smaller than
            float32) with rerank=500 reaches 0.958 at x10 — the
            measured form of the sizing rule on the class docstring:
            PQ bits per vector and the rerank pool are the recall
            dials, and they must scale with within-list density."""
            from dagster_etl_spark.operators.similarity import (
                IncrementalIVFPQIndex,
            )

            idx = IncrementalIVFPQIndex(
                spark, f"sweep_pq_x{mult}_nl{nlist}", dim=DIM, nlist=nlist,
                m=m, ksub=ksub,
            )
            slices = [
                corpus.filter(
                    (F.col("vec_id") >= s * BASE_VECS * 10)
                    & (F.col("vec_id") < (s + 1) * BASE_VECS * 10)
                )
                for s in range((n + BASE_VECS * 10 - 1) // (BASE_VECS * 10))
            ]
            idx.init(slices[0])
            for sl in slices[1:]:
                idx.ingest(sl)
            points = []
            for nprobe in (1, 2, 4, 8, 16):
                if nprobe > nlist:
                    continue
                # the scaled pool IS the sizing rule: rerank grows with
                # within-list density (corpus/200 ≈ 2.5% of a cluster
                # here), so recall holds as the corpus grows while the
                # exact-rescore stays a bounded per-query candidate join
                scaled = max(500, n // 200)
                row: dict = {"nprobe": nprobe, "rerank_scaled_pool": scaled}
                for label, kwargs in (
                    ("adc", {}),
                    ("rerank500", {"rerank": 500, "rerank_source": corpus}),
                    ("rerank_scaled", {"rerank": scaled, "rerank_source": corpus}),
                ):
                    secs = []
                    for _ in range(RUNS):
                        t0 = time.perf_counter()
                        idx.topk(queries, k=K, nprobe=nprobe, **kwargs).write.format(
                            "noop"
                        ).mode("overwrite").save()
                        secs.append(time.perf_counter() - t0)
                    rows = idx.topk(queries, k=K, nprobe=nprobe, **kwargs).collect()
                    recall = sum(
                        (r.query_id, r.neighbor_id) in exact for r in rows
                    ) / len(exact)
                    row[f"recall_at_10_{label}"] = round(recall, 4)
                    row[f"search_sec_{label}"] = round(min(secs), 3)
                points.append(row)
                print(
                    f"# PQ x{mult} nlist={nlist} nprobe={nprobe}: "
                    f"adc {row['recall_at_10_adc']:.3f} "
                    f"{row['search_sec_adc']:.2f}s | rr500 "
                    f"{row['recall_at_10_rerank500']:.3f} "
                    f"{row['search_sec_rerank500']:.2f}s | rr{scaled} "
                    f"{row['recall_at_10_rerank_scaled']:.3f} "
                    f"{row['search_sec_rerank_scaled']:.2f}s",
                    file=sys.stderr,
                )
            idx.drop()
            return points

        if SURFACES in ("ivf", "both"):
            pts16 = _sweep(16)
            out["sweeps"][f"x{mult}"] = {
                "corpus_vecs": n,
                "nlist": 16,
                "points": pts16,
            }
            # the recall gate (test_ann_recall.py floor, clustered regime)
            r4 = next(p for p in pts16 if p["nprobe"] == 4)["recall_at_10"]
            assert r4 >= 0.9, f"x{mult} recall@nprobe=4 {r4} below the 0.9 floor"

            if mult == MULTS[-1]:
                # the nlist scaling rule, measured: same corpus, nlist=64,
                # compare latency at the SAME nprobe/nlist fraction
                pts64 = _sweep(64)
                out["nlist_rule"][f"x{mult}"] = {
                    "corpus_vecs": n,
                    "nlist16_points": pts16,
                    "nlist64_points": pts64,
                }

        if SURFACES in ("pq", "both"):
            pq16 = _sweep_pq(16)
            out.setdefault("pq_sweeps", {})[f"x{mult}"] = {
                "corpus_vecs": n,
                "nlist": 16,
                "m": 16,
                "ksub": 64,
                "bytes_per_vector": 12,
                "points": pq16,
            }
            # rerank must recover what ADC quantization loses. The
            # floor is 0.8 (not IVF's 0.9): PQ adds quantization error
            # on top of list restriction, and this regime is its
            # measured worst case — the artifact's job is the CURVE,
            # the floor is the machinery-works gate, measured on the
            # density-scaled rerank pool (the sizing rule applied).
            rr4 = next(p for p in pq16 if p["nprobe"] == 4)[
                "recall_at_10_rerank_scaled"
            ]
            assert rr4 >= 0.8, (
                f"x{mult} PQ rerank_scaled recall@nprobe=4 {rr4} below 0.8"
            )

    out["methodology"] = (
        "clustered vectors (16 separated spherical Gaussians, the "
        "test_ann_recall.py regime at scale), ingested through the "
        "real incremental lifecycle (init freezes quantizer, 10-slice "
        "appends); each (nlist, nprobe) point reports min-of-3 search "
        "latency over 12 queries AND recall@10 vs the exact "
        "cosine_topk oracle on the identical corpus. Gate: recall@10 "
        ">= 0.9 at nprobe=4/nlist=16 (asserted). nlist_rule: same "
        "x100 corpus at nlist=64 — per-probe lists are 4x shorter, so "
        "equal-recall search costs drop ~nlist-fold at fixed "
        "nprobe/nlist fraction; hence the docstring rule: grow nlist "
        "~ sqrt(N) with the corpus, keep nprobe/nlist fixed."
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
