"""Checkpoint recovery for the streaming index ingests (r15 verdict
task 2): kill a foreachBatch ingest mid-batch — including the nastiest
windows, mid-staging and manifest-committed/checkpoint-uncommitted —
restart from the SAME checkpoint, and prove the recovered standing
state is exactly the one-shot operator's output over the full corpus.

Fault injection goes through ``ingest_slice``'s ``fault_hook`` (see
streaming/recovery.py): an InjectedFault raised inside foreachBatch
fails the streaming query precisely where a process kill would, and
the restart replays the in-flight batch exactly as Structured
Streaming does after a real crash.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from tests.conftest import SF_SMALL

N_FILES = 4


def _docs(spark, n=160):
    from dagster_etl_spark.sources.fixtures import load_table

    return load_table(spark, SF_SMALL, "documents").filter(
        f"doc_id % 3 = 0 AND doc_id < {3 * n}"
    )


def _drop_dir(spark, docs, tmp_path):
    in_dir = str(tmp_path / "docs")
    docs.repartition(N_FILES).write.mode("overwrite").parquet(in_dir)
    return in_dir


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run(spark, in_dir, ckpt, ingest, fail_at=None):
    from dagster_etl_spark.streaming.recovery import run_recoverable_ingest

    run_recoverable_ingest(spark, in_dir, ckpt, ingest, fail_at=fail_at)


def _run_expect_fault(spark, in_dir, ckpt, ingest, fail_at):
    with pytest.raises(StreamingQueryException) as exc:
        _run(spark, in_dir, ckpt, ingest, fail_at=fail_at)
    assert "injected kill" in str(exc.value)


# -- BM25 ---------------------------------------------------------------------


@pytest.mark.parametrize("fail_label", ["staged_postings", "staged_totals"])
def test_bm25_kill_mid_staging_then_restart_equals_oneshot(
    spark, tmp_path, fail_label
):
    """Kill while the slice is PARTIALLY staged (some components written,
    manifest not committed): the replay must overwrite the partial slice
    and converge to the one-shot index, with no component double-counted."""
    from dagster_etl_spark.operators.text import (
        IncrementalBM25Index,
        bm25_topk_docs,
    )

    docs = _docs(spark)
    in_dir = _drop_dir(spark, docs, tmp_path)
    idx = IncrementalBM25Index(spark, f"rcv_bm25_{fail_label}")
    idx.drop()

    _run_expect_fault(
        spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice,
        fail_at=(2, fail_label),
    )
    # partial slice 2 must be invisible: only fully committed slices count
    committed = idx._slice_store().committed()
    assert 2 not in committed and len(committed) >= 1

    _run(spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice)
    assert idx._slice_store().committed() == list(range(N_FILES))

    seeds = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
    got = _rows(idx.topk(seeds, k=10))
    want = _rows(
        bm25_topk_docs(docs).select(
            "query_id", "doc_id", "score_scaled", "score", "rank"
        )
    )
    assert got == want


def test_bm25_kill_in_committed_uncommitted_window_skips_replay(
    spark, tmp_path
):
    """Kill AFTER the manifest commit but BEFORE Spark's checkpoint
    commit (the at-least-once window): the restarted stream replays the
    batch, ingest_slice detects the committed slice and applies nothing
    — a double apply would double every tf/df/totals row and shift
    every BM25 score."""
    from dagster_etl_spark.operators.text import (
        IncrementalBM25Index,
        bm25_topk_docs,
    )

    docs = _docs(spark)
    in_dir = _drop_dir(spark, docs, tmp_path)
    idx = IncrementalBM25Index(spark, "rcv_bm25_postcommit")
    idx.drop()

    _run_expect_fault(
        spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice,
        fail_at=(1, "post_commit"),
    )
    assert 1 in idx._slice_store().committed()  # committed, not checkpointed

    _run(spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice)
    assert idx._slice_store().committed() == list(range(N_FILES))

    seeds = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
    got = _rows(idx.topk(seeds, k=10))
    want = _rows(
        bm25_topk_docs(docs).select(
            "query_id", "doc_id", "score_scaled", "score", "rank"
        )
    )
    assert got == want

    # compaction folds the slices into the bucketed base tables and the
    # answer is unchanged (the pure co-located plan returns)
    assert idx.compact_slices() == N_FILES
    assert idx._slice_store().committed() == []
    assert _rows(idx.topk(seeds, k=10)) == want


def test_bm25_staged_df_equals_direct_count(spark, tmp_path):
    """r19 optimization guard: ingest_slice derives the df component
    from the STAGED postings slice (one explode+aggregate saved per
    slice) — the derived per-term df must equal the straight
    explode + countDistinct over the slice's documents, value for
    value, including after a mid-staging kill replay."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalBM25Index
    from dagster_etl_spark.functions import xdialect as x

    docs = _docs(spark).filter("doc_id % 4 = 1")
    idx = IncrementalBM25Index(spark, "rcv_bm25_dfderive")
    idx.drop()
    store = idx._slice_store()

    def kill(label):
        if label == "staged_postings":
            raise RuntimeError("injected kill")

    with pytest.raises(RuntimeError, match="injected kill"):
        idx.ingest_slice(docs, 0, fault_hook=kill)
    assert store.committed() == []
    assert idx.ingest_slice(docs, 0) is True
    staged_df = store.read_slice(spark, "df", 0)
    direct = (
        docs.selectExpr("doc_id", f"{x.tokens('text', x.SPARK)} AS _t")
        .select("doc_id", F.explode("_t").alias("term"))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )
    assert _rows(staged_df) == _rows(direct) and staged_df.count() > 0
    idx.drop()


# -- MinHash near-dup ---------------------------------------------------------


@pytest.mark.parametrize(
    "fail_at", [(2, "staged_bands"), (2, "staged_pairs"), (1, "post_commit")]
)
def test_neardup_kill_restart_equals_oneshot(spark, tmp_path, fail_at):
    """Kill the near-dup ingest mid-staging / after-pairs-staged /
    post-commit; after restart the accumulated pairs equal the one-shot
    MinHash+LSH over the full corpus (pair-completeness survives the
    replay because the replayed probe sees exactly the committed-state
    view the crashed attempt saw)."""
    from dagster_etl_spark.operators.dedup import (
        IncrementalNearDupIndex,
        minhash_neardup_pairs,
    )

    docs = _docs(spark)
    in_dir = _drop_dir(spark, docs, tmp_path)
    name = f"rcv_nd_{fail_at[0]}_{fail_at[1]}"
    idx = IncrementalNearDupIndex(spark, name)
    idx.drop()

    def ingest(batch_df, batch_id, fault_hook=None):
        return idx.ingest_slice(
            batch_df, batch_id, threshold=0.2, fault_hook=fault_hook
        )

    _run_expect_fault(spark, in_dir, str(tmp_path / "ckpt"), ingest, fail_at)
    _run(spark, in_dir, str(tmp_path / "ckpt"), ingest)
    assert idx._slice_store().committed() == list(range(N_FILES))

    got = _rows(idx.pairs())
    want = _rows(minhash_neardup_pairs(docs, threshold=0.2))
    assert got == want and len(want) > 0

    # fold into the bucketed base; answer unchanged, region cleared
    assert idx.compact_slices() == N_FILES
    assert idx._slice_store().committed() == []
    assert _rows(idx.pairs()) == want


def test_neardup_uninterrupted_slice_ingest_equals_oneshot(spark, tmp_path):
    """Baseline (no fault): the slice-store ingest path itself preserves
    the pair-completeness invariant batch by batch."""
    from dagster_etl_spark.operators.dedup import (
        IncrementalNearDupIndex,
        minhash_neardup_pairs,
    )

    docs = _docs(spark)
    in_dir = _drop_dir(spark, docs, tmp_path)
    idx = IncrementalNearDupIndex(spark, "rcv_nd_clean")
    idx.drop()

    def ingest(batch_df, batch_id, fault_hook=None):
        return idx.ingest_slice(
            batch_df, batch_id, threshold=0.2, fault_hook=fault_hook
        )

    _run(spark, in_dir, str(tmp_path / "ckpt"), ingest)
    assert _rows(idx.pairs()) == _rows(
        minhash_neardup_pairs(docs, threshold=0.2)
    )


def test_unigram_lm_kill_restart_equals_oneshot(spark, tmp_path):
    """r17 (r16 verdict task 3): the standing LM's foreachBatch path is
    exactly-once. Kill mid-staging on one run and in the
    committed/checkpoint-uncommitted window on another; after restart
    score AND drift over the full corpus equal the one-shot operators
    integer-for-integer — the plain-append path would double-count the
    replayed batch's term mass and shift every surprisal."""
    from dagster_etl_spark.operators.text import (
        IncrementalUnigramLM,
        ccnet_surprisal_buckets,
        corpus_drift_tv,
    )

    docs = _docs(spark)
    in_dir = _drop_dir(spark, docs, tmp_path)
    lm = IncrementalUnigramLM(spark, "rcv_ulm")
    lm.drop()

    # mid-staging kill: counts staged, totals not, manifest uncommitted
    _run_expect_fault(
        spark, in_dir, str(tmp_path / "ckpt"), lm.ingest_slice,
        fail_at=(2, "staged_counts"),
    )
    committed = lm._slice_store().committed()
    assert 2 not in committed and len(committed) >= 1

    # restart replays batch 2; then kill batch 3 post-commit
    _run_expect_fault(
        spark, in_dir, str(tmp_path / "ckpt"), lm.ingest_slice,
        fail_at=(3, "post_commit"),
    )
    assert 3 in lm._slice_store().committed()

    # final restart: the replay of committed slice 3 must be a no-op
    _run(spark, in_dir, str(tmp_path / "ckpt"), lm.ingest_slice)
    assert lm._slice_store().committed() == list(range(N_FILES))

    got_s = _rows(lm.score(docs))
    want_s = _rows(ccnet_surprisal_buckets(docs))
    assert got_s == want_s and len(want_s) > 0
    got_d = _rows(lm.drift(docs))
    want_d = _rows(corpus_drift_tv(docs))
    assert got_d == want_d and len(want_d) > 0

    # fold into the bucketed base; answers unchanged, region cleared
    assert lm.compact_slices() == N_FILES
    assert lm._slice_store().committed() == []
    assert _rows(lm.score(docs)) == want_s
    assert _rows(lm.drift(docs)) == want_d
    lm.drop()


@pytest.mark.parametrize(
    "fail_at", [(2, "staged_counts"), (1, "post_commit")]
)
def test_dsir_kill_restart_equals_oneshot(spark, tmp_path, fail_at):
    """r17: the DSIR importance model's exactly-once ingest — kill
    mid-staging / post-commit, restart, and select() over the full
    corpus equals the one-shot dsir_select (a double-counted replay
    would shift the per-bucket log-ratios and re-rank the selection)."""
    from dagster_etl_spark.operators.text import (
        IncrementalDSIRModel,
        dsir_select,
    )

    docs = _docs(spark)
    in_dir = _drop_dir(spark, docs, tmp_path)
    m = IncrementalDSIRModel(spark, f"rcv_dsir_{fail_at[0]}_{fail_at[1]}")
    m.drop()

    _run_expect_fault(
        spark, in_dir, str(tmp_path / "ckpt"), m.ingest_slice, fail_at
    )
    _run(spark, in_dir, str(tmp_path / "ckpt"), m.ingest_slice)
    assert m._slice_store().committed() == list(range(N_FILES))

    got = sorted(
        (r.doc_id, r.n_features, r.weight_q) for r in m.select(docs).collect()
    )
    want = sorted(
        (r.doc_id, r.n_features, r.weight_q)
        for r in dsir_select(docs).collect()
    )
    assert got == want and len(want) > 0

    assert m.compact_slices() == N_FILES
    assert sorted(
        (r.doc_id, r.n_features, r.weight_q) for r in m.select(docs).collect()
    ) == want
    m.drop()


@pytest.mark.parametrize("fail_at", [(2, "staged_vectors"), (1, "post_commit")])
def test_float_ivf_kill_restart_equals_oneshot(spark, tmp_path, fail_at):
    """r17: the float-IVF member of the slice-store family — same
    contract as the IVF-PQ test below, on IncrementalANNIndex."""
    from dagster_etl_spark.operators.similarity import IncrementalANNIndex
    from dagster_etl_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    init_slice = emb.filter("vec_id % 5 = 0")
    rest = emb.filter("vec_id % 5 <> 0")
    in_dir = str(tmp_path / "vecs")
    rest.repartition(N_FILES).write.mode("overwrite").parquet(in_dir)
    q = emb.filter("vec_id < 5")

    name = f"rcv_fivf_{fail_at[0]}_{fail_at[1]}"
    idx = IncrementalANNIndex(spark, name)
    idx.drop()
    idx.init(init_slice)

    _run_expect_fault(
        spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice, fail_at
    )
    _run(spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice)
    assert idx._slice_store().committed() == list(range(N_FILES))

    want_idx = IncrementalANNIndex(spark, "rcv_fivf_want")
    want_idx.drop()
    want_idx.init(init_slice)
    want_idx.ingest(rest)
    want = _rows(want_idx.topk(q, k=10, nprobe=8))
    got = _rows(idx.topk(q, k=10, nprobe=8))
    assert got == want and len(want) == 50

    assert idx.compact_slices() == N_FILES
    assert idx._slice_store().committed() == []
    assert _rows(idx.topk(q, k=10, nprobe=8)) == want
    idx.drop()
    want_idx.drop()


@pytest.mark.parametrize("fail_at", [(2, "staged_codes"), (1, "post_commit")])
def test_ivfpq_kill_restart_equals_oneshot(spark, tmp_path, fail_at):
    """r17: the ANN member of the slice-store family — a standing
    IVF-PQ store fed by a stream must not double-encode a replayed
    batch (a plain append would duplicate code rows and corrupt every
    ADC ranking). Freeze the quantizers on an init slice, stream the
    rest with a kill mid-staging / post-commit, restart; the recovered
    search equals the uninterrupted batch-built index exactly, and the
    post-stream fold preserves it."""
    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    init_slice = emb.filter("vec_id % 5 = 0")
    rest = emb.filter("vec_id % 5 <> 0")
    in_dir = str(tmp_path / "vecs")
    rest.repartition(N_FILES).write.mode("overwrite").parquet(in_dir)
    q = emb.filter("vec_id < 5")

    name = f"rcv_ivfpq_{fail_at[0]}_{fail_at[1]}"
    idx = IncrementalIVFPQIndex(spark, name, m=8, ksub=16)
    idx.drop()
    idx.init(init_slice)

    _run_expect_fault(
        spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice, fail_at
    )
    _run(spark, in_dir, str(tmp_path / "ckpt"), idx.ingest_slice)
    assert idx._slice_store().committed() == list(range(N_FILES))

    want_idx = IncrementalIVFPQIndex(spark, "rcv_ivfpq_want", m=8, ksub=16)
    want_idx.drop()
    want_idx.init(init_slice)
    want_idx.ingest(rest)
    want = _rows(want_idx.topk(q, k=10, rerank=50, rerank_source=emb))
    got = _rows(idx.topk(q, k=10, rerank=50, rerank_source=emb))
    assert got == want and len(want) == 50

    # fold into the bucketed base; answer unchanged, region cleared
    assert idx.compact_slices() == N_FILES
    assert idx._slice_store().committed() == []
    assert _rows(idx.topk(q, k=10, rerank=50, rerank_source=emb)) == want
    idx.drop()
    want_idx.drop()


def _standing(kind, spark, name):
    """(fresh handle on index ``name``, its input rows, ingest_slice
    options) for each of the six standing indexes."""
    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex
    from dagster_etl_spark.operators.similarity import (
        IncrementalANNIndex,
        IncrementalIVFPQIndex,
    )
    from dagster_etl_spark.operators.text import (
        IncrementalBM25Index,
        IncrementalDSIRModel,
        IncrementalUnigramLM,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    if kind in ("ann", "ivfpq"):
        emb = load_table(spark, SF_SMALL, "embeddings")
        if kind == "ann":
            return IncrementalANNIndex(spark, name, nlist=4), emb, {}
        return IncrementalIVFPQIndex(spark, name, nlist=4, m=8, ksub=16), emb, {}
    cls, opts = {
        "neardup": (IncrementalNearDupIndex, {"threshold": 0.2}),
        "bm25": (IncrementalBM25Index, {}),
        "lm": (IncrementalUnigramLM, {}),
        "dsir": (IncrementalDSIRModel, {}),
    }[kind]
    return cls(spark, name), _docs(spark, 80), opts


def _standing_rows(idx):
    """Every component's base ∪ committed deltas, as sorted rows (the
    read rolls a recorded swap forward first)."""
    return {
        c: sorted(repr(tuple(r)) for r in idx._state(c).collect())
        for c in idx.components
    }


def _kill_at(label):
    def hook(lab):
        if lab == label:
            raise RuntimeError(f"injected kill at {label}")

    return hook


KINDS = ["neardup", "bm25", "lm", "dsir", "ann", "ivfpq"]


@pytest.mark.parametrize("kind", KINDS)
def test_fold_kill_at_every_window_rolls_forward(spark, kind):
    """The fold is exactly-once like ingest: kill ``compact_slices``
    after each component's staged write, after the manifest record and
    between each live table's drop and its rename; a restarted handle's
    next ``ingest_slice`` (odd rounds) or read (even rounds) rolls the
    swap forward, and the standing state equals an uninterrupted twin's
    that ran the same slices and folds."""
    idx, data, opts = _standing(kind, spark, f"fk_{kind}")
    ref = _standing(kind, spark, f"fk_{kind}_ref")[0]
    key = idx.id_col
    labels = (
        [f"staged_{c}" for c in idx.components]
        + ["marker"]
        + [f"pre_rename_{t}" for t, _ in idx.components.values()]
    )
    n = len(labels) + 1
    part = lambda i: data.filter(f"{key} % {n} = {i}")  # noqa: E731
    for x in (idx, ref):
        x.drop()
        if hasattr(x, "init"):
            x.init(data.filter(f"{key} % 7 = 0"))
        x.ingest_slice(part(0), 0, **opts)
    unfolded = [0]
    try:
        for i, label in enumerate(labels, start=1):
            ref.compact_slices()
            with pytest.raises(RuntimeError, match="injected kill"):
                idx.compact_slices(fault_hook=_kill_at(label))
            idx = _standing(kind, spark, f"fk_{kind}")[0]  # the restart
            if i % 2:
                for x in (idx, ref):
                    x.ingest_slice(part(i), i, **opts)
                assert _standing_rows(idx) == _standing_rows(ref), label
            else:
                assert _standing_rows(idx) == _standing_rows(ref), label
                for x in (idx, ref):
                    x.ingest_slice(part(i), i, **opts)
            # a kill before the record leaves the folded slices committed
            if not label.startswith("staged_"):
                unfolded = []
            unfolded.append(i)
            store = idx._slice_store()
            assert store.pending_swap() is None
            assert store.committed() == unfolded, label
        assert _standing_rows(idx) == _standing_rows(ref)
    finally:
        idx.drop()
        ref.drop()


@pytest.mark.parametrize("kind", KINDS)
def test_compact_kill_at_every_window_rolls_forward(spark, kind):
    """Compaction is exactly-once like the fold: kill ``compact`` after
    each bucketed table's staged copy, after the manifest record and
    between each live table's drop and its rename; a restarted handle's
    next read (even rounds) or ``ingest_slice`` (odd rounds) rolls the
    swap forward. Compaction retires no slice id, so every slice since
    the last fold stays committed; the standing state equals an
    uninterrupted twin's, and so do each bucketed table's spec and file
    count once the swap was recorded (a kill before the record leaves
    the live tables untouched)."""
    from dagster_etl_spark.sources.bucketed import bucket_spec, file_count

    idx, data, opts = _standing(kind, spark, f"ck_{kind}")
    ref = _standing(kind, spark, f"ck_{kind}_ref")[0]
    key = idx.id_col
    bucketed = [c for c, (_, cols) in idx.components.items() if cols]
    labels = (
        [f"staged_{c}" for c in bucketed]
        + ["marker"]
        + [f"pre_rename_{idx.components[c][0]}" for c in bucketed]
    )
    n = len(labels) + 2
    part = lambda i: data.filter(f"{key} % {n} = {i}")  # noqa: E731
    layout = lambda x: {  # noqa: E731
        c: (bucket_spec(spark, x.components[c][0]), file_count(spark, x.components[c][0]))
        for c in bucketed
    }
    for x in (idx, ref):
        x.drop()
        if hasattr(x, "init"):
            x.init(data.filter(f"{key} % 7 = 0"))
        for i in (0, 1):  # two folds: the base tables hold per-task files
            x.ingest_slice(part(i), i, **opts)
            x.compact_slices()
    try:
        for i, label in enumerate(labels, start=2):
            untouched = layout(idx)
            ref.compact()
            with pytest.raises(RuntimeError, match="injected kill"):
                idx.compact(fault_hook=_kill_at(label))
            idx = _standing(kind, spark, f"ck_{kind}")[0]  # the restart
            if i % 2:
                for x in (idx, ref):
                    x.ingest_slice(part(i), i, **opts)
                assert _standing_rows(idx) == _standing_rows(ref), label
            else:
                assert _standing_rows(idx) == _standing_rows(ref), label
                for x in (idx, ref):
                    x.ingest_slice(part(i), i, **opts)
            store = idx._slice_store()
            assert store.pending_swap() is None
            assert store.committed() == list(range(2, i + 1)), label
            want = untouched if label.startswith("staged_") else layout(ref)
            assert layout(idx) == want, label
    finally:
        idx.drop()
        ref.drop()


def test_slice_committed_during_fold_survives(spark):
    """The fold retires exactly the slice ids it read: a slice committed
    after its tables are staged but before the swap is recorded stays
    committed, and the standing state holds every slice once."""
    idx, docs, _ = _standing("bm25", spark, "fk_concurrent")
    ref = _standing("bm25", spark, "fk_concurrent_ref")[0]
    part = lambda i: docs.filter(f"doc_id % 3 = {i}")  # noqa: E731
    for x in (idx, ref):
        x.drop()
        x.ingest_slice(part(0), 0)
        x.ingest_slice(part(1), 1)
    ref.ingest_slice(part(2), 2)

    def commit_another(label):
        if label == "staged_totals":
            assert idx.ingest_slice(part(2), 2)

    try:
        assert idx.compact_slices(fault_hook=commit_another) == 2
        assert idx._slice_store().committed() == [2]
        assert _standing_rows(idx) == _standing_rows(ref)
    finally:
        idx.drop()
        ref.drop()


def _streamed_surface(kind):
    """(index class, ingest_slice options, the registered query's read,
    the one-shot operator) for each document stream registered in
    queries_streaming."""
    from dagster_etl_spark.operators.dedup import (
        IncrementalNearDupIndex,
        minhash_neardup_pairs,
    )
    from dagster_etl_spark.operators.text import (
        IncrementalBM25Index,
        IncrementalDSIRModel,
        IncrementalUnigramLM,
        bm25_topk_docs,
        corpus_drift_tv,
        dsir_select,
    )

    return {
        "bm25": (
            IncrementalBM25Index,
            {},
            lambda idx, docs: idx.topk(
                docs.filter("doc_id % 97 = 0").select("doc_id", "text"), k=10
            ),
            lambda docs: bm25_topk_docs(docs).select(
                "query_id", "doc_id", "score_scaled", "score", "rank"
            ),
        ),
        "neardup": (
            IncrementalNearDupIndex,
            {"threshold": 0.2},
            lambda idx, docs: idx.pairs(),
            lambda docs: minhash_neardup_pairs(docs, threshold=0.2),
        ),
        "drift": (
            IncrementalUnigramLM,
            {},
            lambda lm, docs: lm.drift(docs),
            corpus_drift_tv,
        ),
        "dsir": (
            IncrementalDSIRModel,
            {},
            lambda m, docs: m.select(docs, k=25),
            dsir_select,
        ),
    }[kind]


@pytest.mark.parametrize("kind", ["bm25", "neardup", "drift", "dsir"])
def test_streamed_index_kill_restart_equals_oneshot(spark, tmp_path, kind):
    """End-to-end for each registered index stream: the shared file-drop
    driver killed inside foreachBatch post-commit (the at-least-once
    window where a replay would double-count the standing state) and
    restarted from the same pinned work dir; the recovered read equals
    the uninterrupted one-shot operator exactly."""
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.streaming.recovery import stream_documents

    state_cls, opts, read, oneshot = _streamed_surface(kind)
    work = str(tmp_path / f"{kind}work")
    with pytest.raises(StreamingQueryException) as exc:
        stream_documents(
            spark, SF_SMALL, state_cls, work_dir=work,
            fail_at=(1, "post_commit"), **opts,
        )
    assert "injected kill" in str(exc.value)

    idx = stream_documents(spark, SF_SMALL, state_cls, work_dir=work, **opts)
    docs = load_table(spark, SF_SMALL, "documents")
    got = _rows(read(idx, docs))
    want = _rows(oneshot(docs))
    assert got == want and len(want) > 0
    idx.drop()


def test_streaming_quality_score_kill_restart_equals_oneshot(spark, tmp_path):
    """The stateless streaming scorer's recovery story (r15 ADVICE fix):
    batch-keyed overwrite writes mean a crash BETWEEN the two writes of
    a micro-batch (scored rows landed, keep-rate row did not) replays
    into identical output — kill there, restart from the checkpoint,
    and the recovered scored table equals the one-shot classifier
    bit-for-bit with exactly one keep-rate row per batch."""
    import os

    from dagster_etl_spark.operators.text import quality_classifier_score
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.streaming.quality import streaming_quality_score

    work = str(tmp_path / "qwork")
    os.makedirs(work)
    # first call on a PINNED work dir stages its own input (r16 ADVICE
    # fix: freshness derives from {work}/docs existing, not from
    # work_dir being None — no manual replication of the internal
    # layout); inject the kill after batch 1's scored write (the crash
    # window the original ADVICE flagged)
    with pytest.raises(StreamingQueryException) as exc:
        streaming_quality_score(
            spark, SF_SMALL, work_dir=work, fail_at=(1, "scored")
        )
    assert "injected kill" in str(exc.value)

    out = streaming_quality_score(spark, SF_SMALL, work_dir=work)
    got = sorted(
        (r.doc_id, r.n_feats, r.logit_scaled, r.prob_decile, r.keep)
        for r in out.collect()
    )
    want = sorted(
        (r.doc_id, r.n_feats, r.logit_scaled, r.prob_decile, r.keep)
        for r in quality_classifier_score(
            load_table(spark, SF_SMALL, "documents")
        ).collect()
    )
    assert got == want
    rates = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{work}/keep_rates")
        .collect()
    )
    # exactly one rate row per non-empty batch, totals account for all
    assert len({r.batch_id for r in rates}) == len(rates)
    assert sum(r.n_docs for r in rates) == len(got)


def test_streaming_weighted_sample_replay_does_not_evict(spark, tmp_path):
    """The r16 replay-absorption fix, proven by a real kill/restart:
    crash AFTER batch 1's state write but BEFORE the checkpoint commit,
    restart — the replayed batch re-merges its own rows. Without the
    (group, id) dedup before ranking, the replayed duplicates would
    occupy two window slots each and could evict legitimate docs from
    the bottom-k; with it the recovered state is bit-identical to the
    batch operator over the full corpus."""
    import os

    from dagster_etl_spark.operators.sampling import weighted_sample_topk
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.streaming.weighted_sample import (
        streaming_weighted_sample,
    )

    work = str(tmp_path / "wswork")
    os.makedirs(work)
    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # no manual staging: the first pinned-work call stages {work}/docs
    # itself (r16 ADVICE fix — freshness derives from the dir existing)
    with pytest.raises(StreamingQueryException) as exc:
        streaming_weighted_sample(
            spark, SF_SMALL, work_dir=work, fail_at=(1, "state")
        )
    assert "injected kill" in str(exc.value)

    got_df = streaming_weighted_sample(spark, SF_SMALL, work_dir=work)
    got = sorted(
        (r.source, r.doc_id, r.ticket, r.sample_rank)
        for r in got_df.collect()
    )
    want = sorted(
        (r.source, r.doc_id, r.ticket, r.sample_rank)
        for r in weighted_sample_topk(
            docs, weight_expr="1 + n_chars % 8", k=20,
            group_col="source", seed=7,
        ).collect()
    )
    assert got == want and len(want) > 0


def test_manifest_commit_is_atomic_and_idempotent(tmp_path):
    """SliceStore unit-level: commit survives duplicate calls, the
    manifest never lists a slice that wasn't committed, and clear()
    resets."""
    from dagster_etl_spark.streaming.slicestore import SliceStore

    store = SliceStore(str(tmp_path / "region"))
    assert store.committed() == []
    assert not store.is_committed(0)
    store.commit(0)
    store.commit(0)
    store.commit(3)
    assert store.committed() == [0, 3]
    assert store.is_committed(3) and not store.is_committed(1)
    # no stray temp files left behind by the write-replace protocol
    leftovers = [
        f for f in os.listdir(tmp_path / "region") if f.startswith(".manifest_")
    ]
    assert leftovers == []
    store.clear()
    assert store.committed() == []


def test_manifest_commit_serializes_concurrent_writers(tmp_path):
    """r16 ADVICE: commit is a read-modify-write of the whole manifest;
    two streams sharing an index root must serialize (flock), not drop
    each other's committed ids. Hammer the same store from threads —
    every id must survive."""
    from concurrent.futures import ThreadPoolExecutor

    from dagster_etl_spark.streaming.slicestore import SliceStore

    store = SliceStore(str(tmp_path / "region"))
    ids = list(range(64))
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(store.commit, ids))
    assert store.committed() == ids


def test_partial_staging_dir_is_restaged_not_trusted(spark, tmp_path):
    """r17 ADVICE: a crash DURING the first pinned-work-dir call's
    corpus staging leaves a partial {work}/docs parquet dir with no
    _SUCCESS marker. The freshness probe must treat that as NOT staged
    (re-stage with overwrite) rather than stream a partial corpus and
    silently diverge from the one-shot oracle. Simulate the torn write
    directly: a docs dir holding a real-but-partial parquet file and
    no marker, then run the pinned-work-dir query end to end."""
    import os

    from dagster_etl_spark.operators.text import IncrementalDSIRModel, dsir_select
    from dagster_etl_spark.sources.fixtures import load_table
    from dagster_etl_spark.streaming.recovery import stream_documents

    docs = load_table(spark, SF_SMALL, "documents")
    work = str(tmp_path / "tornwork")
    in_dir = os.path.join(work, "docs")
    # the torn state: one committed-looking part file, HALF the corpus,
    # and no _SUCCESS (FileOutputCommitter writes the marker only at
    # job commit — a mid-staging crash leaves exactly this shape)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(
        in_dir
    )
    os.unlink(os.path.join(in_dir, "_SUCCESS"))
    assert not os.path.exists(os.path.join(in_dir, "_SUCCESS"))

    m = stream_documents(spark, SF_SMALL, IncrementalDSIRModel, work_dir=work)
    got = _rows(m.select(docs))
    want = _rows(dsir_select(docs))
    assert got == want and len(want) > 0
    # and the re-staged dir is now fully committed
    assert os.path.exists(os.path.join(in_dir, "_SUCCESS"))


def test_slicestore_read_raises_on_missing_committed_slice(spark, tmp_path):
    """r17 ADVICE: a manifest-committed slice whose component directory
    was deleted out from under the store must surface as an error, not
    silently read as a smaller standing state."""
    import shutil

    from dagster_etl_spark.streaming.slicestore import SliceStore

    store = SliceStore(str(tmp_path / "slices"))
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    store.write("counts", 0, df)
    store.commit(0)
    store.write("counts", 1, df.selectExpr("id + 5 AS id", "id AS v"))
    store.commit(1)
    assert store.read(spark, "counts").count() == 10

    shutil.rmtree(store.slice_path("counts", 1))
    with pytest.raises(FileNotFoundError, match="manifest-committed"):
        store.read(spark, "counts")
