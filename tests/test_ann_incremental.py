"""IncrementalANNIndex: the frozen-quantizer daily-cadence IVF.

Contracts: (1) a single init over the full corpus is EXACTLY the
one-shot hash-quantizer IVF (the degenerate cadence); (2) ingest order
doesn't matter (the index is a set of vectors + a frozen quantizer);
(3) the vectors table is bucketed by the probe join key and appends
keep the spec; (4) recall floor vs exact brute force.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

DIM = 64


@pytest.fixture()
def ann_env(spark):
    from dagster_etl_spark.operators.similarity import IncrementalANNIndex

    idx = IncrementalANNIndex(spark, "t_inc_ann", dim=DIM)
    yield spark, idx
    idx.drop()


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, round(r.cosine, 9), r.rank)
        for r in df.collect()
    )


def test_full_init_equals_one_shot(ann_env):
    """init(everything) + topk == ivf_cosine_topk with the hash
    quantizer: the incremental machinery adds no drift in the
    degenerate single-ingest cadence."""
    from dagster_etl_spark.operators.similarity import ivf_cosine_topk
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = ann_env
    emb = load_table(spark, SF_SMALL, "embeddings")
    idx.init(emb)
    got = idx.topk(emb.filter("vec_id < 5"), k=10, nprobe=8)
    want = ivf_cosine_topk(
        emb.filter("vec_id < 5"), emb, dim=DIM, k=10, quantizer="hash"
    )
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0


def test_ingest_order_is_irrelevant(ann_env):
    """Same init slice (the quantizer), the other two slices appended
    in either order -> identical search results."""
    from dagster_etl_spark.operators.similarity import IncrementalANNIndex
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = ann_env
    emb = load_table(spark, SF_SMALL, "embeddings")
    s = [emb.filter(f"vec_id % 3 = {i}") for i in range(3)]
    q = emb.filter("vec_id < 5")

    idx.init(s[0])
    idx.ingest(s[1])
    idx.ingest(s[2])
    a = _rows(idx.topk(q, k=10, nprobe=8))

    idx2 = IncrementalANNIndex(spark, "t_inc_ann2", dim=DIM)
    try:
        idx2.init(s[0])
        idx2.ingest(s[2])
        idx2.ingest(s[1])
        assert _rows(idx2.topk(q, k=10, nprobe=8)) == a
    finally:
        idx2.drop()


def test_vectors_table_bucketed_and_appends_keep_spec(ann_env):
    import numpy as np
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.similarity import hash_centroids
    from dagster_etl_spark.sources.bucketed import bucket_spec
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = ann_env
    emb = load_table(spark, SF_SMALL, "embeddings")
    init = emb.filter("vec_id % 3 = 0")
    idx.init(init)
    assert bucket_spec(spark, idx.vectors_table) == (8, ["bucket"], [])
    idx.ingest(emb.filter("vec_id % 3 = 1"))
    idx.ingest(emb.filter("vec_id % 3 = 2"))
    assert bucket_spec(spark, idx.vectors_table) == (8, ["bucket"], [])
    assert spark.table(idx.vectors_table).count() == emb.count()
    # every vector assigned to a valid frozen list
    n_bad = (
        spark.table(idx.vectors_table)
        .filter((F.col("bucket") < 0) | (F.col("bucket") >= idx.nlist))
        .count()
    )
    assert n_bad == 0
    # centroids were frozen from the init slice only
    cents = idx._frozen("centroids")
    assert cents.shape == (idx.nlist, DIM) and cents.dtype == np.float32
    assert np.array_equal(cents, np.float32(hash_centroids(init, idx.nlist)))


def test_quantizer_reads_start_no_spark_job(spark):
    """The frozen quantizers live in the slice store's MANIFEST as
    float32 files: a fresh handle's quantizer read and ``nlist`` load
    them with numpy and start no Spark job, and ``init`` leaves only
    the component tables in the catalog."""
    from dagster_etl_spark.operators.similarity import (
        IncrementalANNIndex,
        IncrementalIVFPQIndex,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").filter("vec_id % 3 = 0")
    ann = IncrementalANNIndex(spark, "t_nojob_ann", dim=DIM, nlist=8)
    pq = IncrementalIVFPQIndex(spark, "t_nojob_pq", nlist=8, m=8, ksub=16)
    sc = spark.sparkContext
    try:
        ann.init(emb)
        pq.init(emb)
        tables = {r.tableName for r in spark.sql("SHOW TABLES LIKE 't_nojob*'").collect()}
        assert tables == {ann.vectors_table, pq.codes_table}
        ann = IncrementalANNIndex(spark, "t_nojob_ann", dim=DIM, nlist=8)
        pq = IncrementalIVFPQIndex(spark, "t_nojob_pq", nlist=4, m=8, ksub=16)
        sc.setJobGroup("quantizer_reads", "fresh-handle quantizer reads")
        try:
            cents = ann._frozen("centroids")
            pq_cents = pq._frozen("centroids")
            books = pq._frozen("codebooks")
            nlist = pq.nlist
            jobs = sc.statusTracker().getJobIdsForGroup("quantizer_reads")
            spark.range(3).count()  # the tracker does see this group's jobs
            assert sc.statusTracker().getJobIdsForGroup("quantizer_reads")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == []
        assert cents.shape == pq_cents.shape == (8, DIM) and nlist == 8
        assert books.shape == (8, 16, DIM // 8)
    finally:
        ann.drop()
        pq.drop()


def test_recall_floor_vs_exact(ann_env):
    """Frozen-quantizer IVF must still share hits with the exact
    top-10 (machinery-is-broken floor, same bar as ivf_ann_recall)."""
    from dagster_etl_spark.operators.similarity import cosine_topk
    from dagster_etl_spark.sources.fixtures import load_table

    spark, idx = ann_env
    emb = load_table(spark, SF_SMALL, "embeddings")
    idx.init(emb.filter("vec_id % 3 = 0"))
    idx.ingest(emb.filter("vec_id % 3 = 1"))
    idx.ingest(emb.filter("vec_id % 3 = 2"))
    q = emb.filter("vec_id < 5")
    approx = {
        (r.query_id, r.neighbor_id)
        for r in idx.topk(q, k=10, nprobe=8).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, emb, dim=DIM, k=10).collect()
    }
    for qid in {a for a, _ in exact}:
        hits = len(
            {n for a, n in approx if a == qid}
            & {n for a, n in exact if a == qid}
        )
        assert hits >= 2, f"query {qid}: only {hits} of exact top-10 found"


def test_ivfpq_incremental_slicing_invariance(spark):
    """IncrementalIVFPQIndex: because BOTH quantizers freeze at init
    and encode is a pure function of the frozen state, the accumulated
    index — and therefore search — is identical regardless of how the
    post-init corpus was sliced. Two different slicings of the same
    corpus (same init slice) must return the exact same top-k."""
    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter("vec_id < 5")

    def run(name: str, slices) -> set:
        idx = IncrementalIVFPQIndex(spark, name, m=8, ksub=16)
        idx.init(emb.filter("vec_id % 3 = 0"))
        for cond in slices:
            idx.ingest(emb.filter(cond))
        got = {
            (r.query_id, r.rank, r.neighbor_id, r.cosine)
            for r in idx.topk(q, k=10, rerank_source=emb).collect()
        }
        idx.drop()
        return got

    two = run("ivfpq_s2", ["vec_id % 3 = 1", "vec_id % 3 = 2"])
    four = run(
        "ivfpq_s4",
        [
            "vec_id % 3 = 1 AND vec_id % 2 = 0",
            "vec_id % 3 = 1 AND vec_id % 2 = 1",
            "vec_id % 3 = 2 AND vec_id % 2 = 0",
            "vec_id % 3 = 2 AND vec_id % 2 = 1",
        ],
    )
    assert two == four
    assert len(two) == 50


def test_ivfpq_probe_pushdown_reaches_codes_scan(spark):
    """r16 probe pushdown: the probed bucket set must land on the
    codes-table SCAN as an In filter (bucket pruning + row-group
    skipping), so the ADC reconstruction never runs on never-probed
    lists. Pin the plan, not just the result: the filter must appear
    below the probe join, on the scan side."""
    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    idx = IncrementalIVFPQIndex(spark, "ivfpq_push", m=8, ksub=16)
    idx.init(emb)
    # nprobe=2 of nlist=16: the probed union over 5 queries is at most
    # 10 buckets — strictly fewer than nlist, so the In filter prunes
    plan = (
        idx.topk(emb.filter("vec_id < 5"), k=10, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    idx.drop()
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(bucket" in p for p in pushed), (
        "probed-bucket In filter did not reach any parquet scan: "
        f"{pushed}"
    )


def test_ivfpq_sized_for_applies_measured_rules(spark):
    """sized_for derives the full geometry from corpus stats: the
    recall-measured PQ bits (m=16/ksub=64), the ~1k-vectors-per-list
    nlist rule (power of two, clamped [16, 4096]), and num_buckets
    following nlist. A built sized index must search correctly."""
    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    cases = {
        5_000: 16,       # below the rule's floor
        60_000: 64,      # the soak's measured operating point
        1_000_000: 1024,
        10_000_000: 4096,  # clamped ceiling
        1_000_000_000: 4096,
    }
    for n, want_nlist in cases.items():
        idx = IncrementalIVFPQIndex.sized_for(spark, "t_sized", n)
        assert (idx.nlist, idx.m, idx.ksub) == (want_nlist, 16, 64), n
        assert idx.num_buckets == max(8, want_nlist)
    # dim clamp: m never exceeds dim
    assert IncrementalIVFPQIndex.sized_for(spark, "t_sized", 10_000, dim=8).m == 8

    emb = load_table(spark, SF_SMALL, "embeddings")
    idx = IncrementalIVFPQIndex.sized_for(spark, "t_sized_live", emb.count())
    idx.init(emb)
    got = idx.topk(emb.filter("vec_id < 3"), k=5, nprobe=4, rerank_source=emb)
    assert got.count() == 15
    idx.drop()


def test_ivf_pq_topk_exact_at_sized_for_geometry(spark):
    """ivf_pq_topk at the sized_for PQ geometry (m=16, ksub=64 — the
    class defaults) equals the DuckDB replay of all three stages value
    for value, compared the way tools/check_correctness.py compares:
    the registered queries pin the codes only at m=8/ksub=16."""
    import duckdb

    from dagster_etl_spark.operators.similarity import ivf_pq_topk
    from dagster_etl_spark.queries_llm import _ivf_pq_oracle
    from dagster_etl_spark.sources.fixtures import load_table
    from tools.check_correctness import compare

    emb = load_table(spark, SF_SMALL, "embeddings")
    got = ivf_pq_topk(
        emb.filter("vec_id < 5"), emb, dim=64, k=10, m=16, ksub=64
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    want = con.execute(_ivf_pq_oracle(m=16, ksub=64)).fetchdf()
    assert len(got) == 50
    assert compare(got, want) == []


def test_vector_kernels_guard_malformed_vectors_and_break_ties(spark):
    """The nearest-centroid and PQ encode kernels raise ValueError
    naming the offending id when a vector is NULL or not the
    quantizer's dim long (the SQL they replaced put NULL and empty
    vectors in bucket nlist-1 and aborted on a short one with an array
    index error). A zero vector is valid; a centroid tie goes to the
    larger index and a code tie to the first."""
    import math

    from pyspark.errors import PythonException

    from dagster_etl_spark.operators.similarity import ivf_pq_encode, nearest_lists

    cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]]  # lists 0 and 2 always tie
    books = [[[1.0], [1.0], [0.0]], [[0.5], [0.5], [2.0]]]  # codewords 0, 1 tie

    def frame(rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).coalesce(1)

    ok = frame([(1, [1.0, 0.5]), (2, [0.0, 0.0]), (3, [0.25, 1.0])])
    assign = nearest_lists(ok, "embedding", cents, ["vec_id"])
    assert {r.vec_id: r.bucket for r in assign.collect()} == {1: 2, 2: 2, 3: 1}
    probe = nearest_lists(ok, "embedding", cents, ["vec_id"], nprobe=3)
    assert [(r.vec_id, r.bucket) for r in probe.collect()] == [
        (1, 2), (1, 0), (1, 1), (2, 2), (2, 1), (2, 0), (3, 1), (3, 2), (3, 0),
    ]
    enc = ivf_pq_encode(ok, cents, books, "vec_id", "embedding")
    assert {
        r.vec_id: (r.bucket, r.code_0, r.code_1, r.rn) for r in enc.collect()
    } == {1: (2, 0, 0, math.sqrt(1.25)), 2: (2, 2, 0, 0.5), 3: (1, 2, 0, 0.5)}

    kernels = (
        lambda df: nearest_lists(df, "embedding", cents, ["vec_id"]),
        lambda df: ivf_pq_encode(df, None, books, "vec_id", "embedding"),
    )
    for bad, what in ((None, "is NULL"), ([], "is length 0"), ([1.0], "is length 1")):
        df = frame([(1, [1.0, 0.5]), (7, bad)])
        for kernel in kernels:
            with pytest.raises(
                PythonException, match=f"ValueError: embedding of vec_id 7 {what}"
            ):
                kernel(df).collect()


def test_ivfpq_rebucket_degenerate_equals_fresh_init(spark):
    """r17 (r16 verdict task 5): rebucket must assign exactly what a
    fresh init at the new nlist would. Degenerate cadence makes that
    an exact table property: init on the FULL corpus at nlist=8, then
    rebucket(corpus, 16) — centroids, bucket assignments, codes, and
    search must all equal a fresh init(corpus) at nlist=16 (same
    codebook pool, same centroid pool, same hash rules)."""
    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.bucketed import bucket_spec
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter("vec_id < 5")

    a = IncrementalIVFPQIndex(spark, "ivfpq_rb_a", nlist=8, m=8, ksub=16)
    a.init(emb)
    a.rebucket(emb, 16)
    assert a.nlist == 16
    # r18 (r17 ADVICE): rebucket rescales file buckets to sized_for's
    # "num_buckets follows nlist" rule, so the fresh-init comparator
    # must be constructed at the same rule for spec equality
    assert a.num_buckets == 16

    b = IncrementalIVFPQIndex(
        spark, "ivfpq_rb_b", nlist=16, m=8, ksub=16, num_buckets=16
    )
    b.init(emb)

    rows = lambda t: sorted(tuple(r) for r in spark.table(t).collect())  # noqa: E731
    for name in ("centroids", "codebooks"):  # bit for bit
        assert a._frozen(name).tobytes() == b._frozen(name).tobytes(), name
    assert rows(a.codes_table) == rows(b.codes_table)
    assert bucket_spec(spark, a.codes_table) == bucket_spec(spark, b.codes_table)
    got = sorted(tuple(r) for r in a.topk(q, k=10, nprobe=4).collect())
    want = sorted(tuple(r) for r in b.topk(q, k=10, nprobe=4).collect())
    assert got == want and len(got) == 50
    a.drop()
    b.drop()


def test_ivfpq_rebucket_appended_index_invariants(spark):
    """The grown-index case the lever exists for: init on a slice,
    append the rest, rebucket to a larger nlist. Codes and rn must be
    carried over untouched (the expensive PQ encode is NOT recomputed),
    full-probe search must be bit-identical before and after (it
    depends only on codes + rn), appends against the NEW geometry keep
    working, and a partial float table must refuse the swap."""
    import pytest as _pytest

    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter("vec_id < 5")
    idx = IncrementalIVFPQIndex(spark, "ivfpq_rb_g", nlist=4, m=8, ksub=16)
    idx.init(emb.filter("vec_id % 3 = 0"))
    idx.ingest(emb.filter("vec_id % 3 <> 0"))

    code_cols = [f"code_{j}" for j in range(idx.m)] + ["rn"]
    before_codes = sorted(
        tuple(r) for r in spark.table(idx.codes_table)
        .select("vec_id", *code_cols).collect()
    )
    before_full = sorted(
        tuple(r) for r in idx.topk(q, k=10, nprobe=4).collect()
    )

    with _pytest.raises(ValueError, match="float table covers"):
        idx.rebucket(emb.filter("vec_id % 2 = 0"), 16)

    idx.rebucket(emb, 16)
    after_codes = sorted(
        tuple(r) for r in spark.table(idx.codes_table)
        .select("vec_id", *code_cols).collect()
    )
    assert after_codes == before_codes  # PQ state untouched
    assert len(idx._frozen("centroids")) == 16
    # full probe sees every list regardless of geometry -> identical
    after_full = sorted(
        tuple(r) for r in idx.topk(q, k=10, nprobe=16).collect()
    )
    assert after_full == before_full
    # the index keeps living: append encodes against the new centroids
    n0 = spark.table(idx.codes_table).count()
    extra = emb.selectExpr("vec_id + 1000000 AS vec_id", "embedding").limit(7)
    idx.ingest(extra)
    assert spark.table(idx.codes_table).count() == n0 + 7
    bad = (
        spark.table(idx.codes_table)
        .filter("bucket < 0 OR bucket >= 16")
        .count()
    )
    assert bad == 0
    idx.drop()


def test_ivfpq_rebucket_crash_windows_roll_forward(spark):
    """r18 (r17 verdict task 5): the rebucket swap is crash-safe at
    EVERY window, including the historically-unprotected span between
    `DROP TABLE codes` and the staging rename. Inject a crash at each
    fault hook, then open a FRESH handle (init-time geometry, as a
    restarted process would) and search: the swap recorded in the
    slice-store manifest must roll forward on first use, leaving
    results identical to an uninterrupted rebucket and the stored
    geometry at the new nlist. A crash BEFORE the record ("staged")
    must leave the live index untouched and re-runnable."""
    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
    from dagster_etl_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter("vec_id < 5")

    ref = IncrementalIVFPQIndex(spark, "ivfpq_rbc_ref", nlist=8, m=8, ksub=16)
    ref.init(emb)
    ref.rebucket(emb, 16)
    # name-independent outputs: centroids/codebooks derive from the
    # data alone, so every recovered index must reproduce these rows
    want = sorted(tuple(r) for r in ref.topk(q, k=10, nprobe=16).collect())
    want_cents = ref._frozen("centroids").tobytes()
    ref.drop()

    # crash AFTER the marker: roll forward on next use
    for i, label_of in enumerate(
        (
            lambda name: "marker",
            lambda name: f"pre_rename_{name}_ivfpq_codes",
        )
    ):
        name = f"ivfpq_rbc_{i}"
        label = label_of(name)
        idx = IncrementalIVFPQIndex(spark, name, nlist=8, m=8, ksub=16)
        idx.init(emb)

        def boom(lab, _kill=label):
            if lab == _kill:
                raise RuntimeError(f"injected kill at {_kill}")

        with pytest.raises(RuntimeError, match="injected kill"):
            idx.rebucket(emb, 16, fault_hook=boom)
        # the no-codes-table window is real at pre_rename_codes: prove
        # recovery heals it through the ordinary entry points alone
        fresh = IncrementalIVFPQIndex(spark, name, nlist=8, m=8, ksub=16)
        if i == 0:
            # reading the stored geometry alone rolls the swap forward
            assert fresh.nlist == 16
        if i == 1:
            # the WRITE path must self-heal too (an ingest job can be
            # the first thing to touch the index after a crash); an
            # empty slice exercises the recovery guard without
            # perturbing the expected result rows
            fresh.ingest(emb.filter("vec_id < 0"))
            assert fresh.nlist == 16  # recovery ran before the encode
        got = sorted(
            tuple(r) for r in fresh.topk(q, k=10, nprobe=16).collect()
        )
        assert got == want, f"crash at {label} not rolled forward"
        assert fresh.nlist == 16 and fresh.num_buckets == 16
        assert fresh._frozen("centroids").tobytes() == want_cents
        assert fresh._slice_store().pending_swap() is None  # record consumed
        fresh.drop()

    # crash BEFORE the marker: live index untouched, rebucket re-runs
    idx = IncrementalIVFPQIndex(spark, "ivfpq_rbc_pre", nlist=8, m=8, ksub=16)
    idx.init(emb)
    pre = sorted(tuple(r) for r in idx.topk(q, k=10, nprobe=8).collect())
    with pytest.raises(RuntimeError, match="injected kill"):
        idx.rebucket(
            emb, 16,
            fault_hook=lambda lab: (_ for _ in ()).throw(
                RuntimeError("injected kill")
            ) if lab == "staged" else None,
        )
    fresh = IncrementalIVFPQIndex(spark, "ivfpq_rbc_pre", nlist=8, m=8, ksub=16)
    assert fresh._slice_store().pending_swap() is None  # nothing recorded
    assert sorted(tuple(r) for r in fresh.topk(q, k=10, nprobe=8).collect()) == pre
    fresh.rebucket(emb, 16)  # the retry completes normally
    assert sorted(tuple(r) for r in fresh.topk(q, k=10, nprobe=16).collect()) == want
    fresh.drop()


def test_ivfpq_maybe_rebucket_trigger(spark):
    """r18 (r17 verdict task 4): the auto-trigger fires only past the
    2x-per-list crossing and re-buckets to ivf_nlist_for's geometry;
    a healthy index pays one count and is left alone."""
    from dagster_etl_spark.operators.similarity import (
        IncrementalIVFPQIndex,
        ivf_nlist_for,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    # init deliberately UNDER-bucketed (nlist=4, below the sizing
    # rule's floor of 16) so the rule has headroom to grow at fixture
    # scale; ivf_nlist_for(n) >= 16 > 4 for any corpus
    idx = IncrementalIVFPQIndex(spark, "ivfpq_auto", nlist=4, m=8, ksub=16)
    idx.init(emb)
    # healthy at the default 2k-per-list budget -> one count, no-op
    assert n <= 4 * 2000  # fixture-scale precondition for the no-op leg
    assert idx.maybe_rebucket(emb) is None
    assert idx.nlist == 4
    # force the crossing with a tiny per-list budget: target follows
    # the shared sizing rule, geometry and spec actually change
    target = ivf_nlist_for(n)
    per_list = max(1, n // 32)  # n / nlist(4) > per_list -> fires
    fired = idx.maybe_rebucket(emb, max_per_list=per_list)
    assert fired == target and idx.nlist == target
    assert idx.num_buckets == max(8, target)
    assert len(idx._frozen("centroids")) == target
    # second call at the same size is a no-op (hysteresis: target
    # no longer exceeds the standing nlist)
    assert idx.maybe_rebucket(emb, max_per_list=per_list) is None
    # so is a fresh handle at the init-time geometry: it reads the
    # stored nlist, not its constructor's
    fresh = IncrementalIVFPQIndex(spark, "ivfpq_auto", nlist=4, m=8, ksub=16)
    assert fresh.nlist == target
    assert fresh.maybe_rebucket(emb, max_per_list=per_list) is None
    # the re-bucketed index still searches
    got = idx.topk(emb.filter("vec_id < 3"), k=5, nprobe=target)
    assert got.count() == 15
    idx.drop()
