"""The shared lifecycle of the six incremental indexes
(streaming/slicestore.StandingState): eager ingest releases what it
cached, BM25 refuses a slice that repeats a doc id, and the slice-file
budget falls back to the partition count when a frame reports no input
files.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_SMALL


def _docs(spark):
    from dagster_etl_spark.sources.fixtures import load_table

    return load_table(spark, SF_SMALL, "documents")


def _emb(spark):
    from dagster_etl_spark.sources.fixtures import load_table

    return load_table(spark, SF_SMALL, "embeddings")


def _neardup(spark):
    from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex

    return IncrementalNearDupIndex(spark, "ss_nd"), _docs, {"threshold": 0.2}


def _bm25(spark):
    from dagster_etl_spark.operators.text import IncrementalBM25Index

    return IncrementalBM25Index(spark, "ss_bm25"), _docs, {}


def _lm(spark):
    from dagster_etl_spark.operators.text import IncrementalUnigramLM

    return IncrementalUnigramLM(spark, "ss_lm"), _docs, {}


def _dsir(spark):
    from dagster_etl_spark.operators.text import IncrementalDSIRModel

    return IncrementalDSIRModel(spark, "ss_dsir"), _docs, {}


def _ann(spark):
    from dagster_etl_spark.operators.similarity import IncrementalANNIndex

    return IncrementalANNIndex(spark, "ss_ann", nlist=4), _emb, {}


def _ivfpq(spark):
    from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex

    return IncrementalIVFPQIndex(spark, "ss_ivfpq", nlist=4, m=8, ksub=16), _emb, {}


@pytest.mark.parametrize(
    "make", [_neardup, _bm25, _lm, _dsir, _ann, _ivfpq],
    ids=["neardup", "bm25", "unigram_lm", "dsir", "ann", "ivfpq"],
)
def test_eager_ingest_leaves_no_cached_frame(spark, make):
    """Both eager write paths (batch ``ingest``, or ``init`` for the
    ANN indexes, and ``ingest_slice``) release every frame they cached
    before returning: nothing is left for the deferred
    ``release_pinned`` and the session's cache is empty."""
    from dagster_etl_spark.plans.cache import release_pinned

    idx, load, opts = make(spark)
    idx.drop()
    data = load(spark)
    key = idx.id_col
    cache = spark._jsparkSession.sharedState().cacheManager()
    release_pinned()
    spark.catalog.clearCache()
    try:
        first = data.filter(f"{key} % 2 = 0")
        if hasattr(idx, "init"):
            idx.init(first)
        else:
            idx.ingest(first, **opts)
        assert release_pinned() == 0
        assert cache.isEmpty()
        assert idx.ingest_slice(data.filter(f"{key} % 2 = 1"), 7, **opts)
        assert release_pinned() == 0
        assert cache.isEmpty()
    finally:
        idx.drop()


def test_bm25_duplicate_doc_id_is_refused_before_staging(spark):
    """The staged df counts postings rows per term, which equals the
    document frequency only while doc_id is unique in the slice; a
    slice that repeats an id is refused before any component is
    staged, and nothing is committed."""
    from dagster_etl_spark.operators.text import IncrementalBM25Index
    from dagster_etl_spark.streaming.slicestore import _local

    idx = IncrementalBM25Index(spark, "ss_bm25_dup")
    idx.drop()
    docs = _docs(spark).filter("doc_id < 20")
    dup = docs.unionByName(docs.filter("doc_id = 7"))
    store = idx._slice_store()
    try:
        with pytest.raises(ValueError, match="doc_id 7 occurs more than once"):
            idx.ingest_slice(dup, 0)
        assert store.committed() == []
        for component in idx.components:
            assert not os.path.isdir(_local(store.slice_path(component, 0)))
    finally:
        idx.drop()


def test_slice_file_budget_falls_back_to_partitions(spark, tmp_path):
    """A frame with no input files (``createDataFrame``, or any
    foreachBatch micro-batch) is budgeted by its partition count; a
    file-sourced frame by its file count; both clamped to
    defaultParallelism."""
    from dagster_etl_spark.streaming.slicestore import slice_file_budget

    par = spark.sparkContext.defaultParallelism
    rows = spark.createDataFrame([(i,) for i in range(40)], "id INT")
    assert rows.inputFiles() == []
    assert slice_file_budget(rows.repartition(3)) == min(3, par)
    assert slice_file_budget(rows.repartition(par + 5)) == par
    rows.repartition(2).write.parquet(str(tmp_path / "two"))
    assert slice_file_budget(spark.read.parquet(str(tmp_path / "two"))) == 2


def test_standing_read_builds_launch_no_jobs(spark):
    """Building a standing read is plan construction only: no read
    collects anything to the driver to choose its plan. The one
    exception is IVF-PQ ``topk``, whose probe collect picks the
    buckets to scan, and it launches exactly that one job."""
    docs, emb = _docs(spark), _emb(spark)
    seeds = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
    q = emb.filter("vec_id < 5")
    reads = {
        _neardup: {
            "pairs": (lambda i: i.pairs(), 0),
            "probe_external": (lambda i: i.probe_external(docs), 0),
        },
        _bm25: {"topk": (lambda i: i.topk(seeds, k=10), 0)},
        _lm: {
            "score": (lambda i: i.score(docs), 0),
            "drift": (lambda i: i.drift(docs), 0),
        },
        _dsir: {"select": (lambda i: i.select(docs), 0)},
        _ann: {"topk": (lambda i: i.topk(q, k=10), 0)},
        _ivfpq: {"topk": (lambda i: i.topk(q, k=10), 1)},
    }
    tracker = spark.sparkContext.statusTracker()
    jobs = lambda: set(tracker.getJobIdsForGroup(None))  # noqa: E731
    for make, builds in reads.items():
        idx, load, opts = make(spark)
        idx.drop()
        try:
            first = load(spark).filter(f"{idx.id_col} % 2 = 0")
            if hasattr(idx, "init"):
                idx.init(first)
            else:
                idx.ingest(first, **opts)
            for name, (build, want) in builds.items():
                before = jobs()
                build(idx)
                launched = len(jobs() - before)
                assert launched == want, (
                    f"building {type(idx).__name__}.{name} launched "
                    f"{launched} Spark jobs, want {want}"
                )
        finally:
            idx.drop()
