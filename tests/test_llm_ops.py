"""Tests for the training-data pipeline operators: dedup family,
similarity search, text analysis."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dagster_etl_spark.operators.dedup import (
    cluster_survivors,
    dedup_lines,
    drop_exact_duplicates,
    drop_key_duplicates,
    exact_dedup_stats,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
)
from dagster_etl_spark.operators.similarity import cosine_topk, lsh_cosine_topk
from dagster_etl_spark.operators.text import doc_stats, fingerprints
from dagster_etl_spark.sources.fixtures import load_table

SF = "/root/testdata/sf0.001"


def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup
        Row(doc_id=3, text="The quick brown fox jumps over the lazy dog  "),  # case/ws dup
        Row(doc_id=4, text="the quick brown fox jumps over the sleepy dog"),  # near dup
        Row(doc_id=5, text="completely different content about spark engines"),
        Row(doc_id=6, text="a b"),  # too short for 3-shingles
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    stats = exact_dedup_stats(docs(spark))
    copies = {r.canonical_id: r.n_copies for r in stats.collect()}
    assert copies[1] == 3  # docs 1,2,3 normalize identically
    kept = sorted(r.doc_id for r in drop_exact_duplicates(docs(spark)).collect())
    assert kept == [1, 4, 5, 6]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(docs(spark), threshold=0.3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.4 < pairs[(1, 4)] < 1.0  # one word changed
    assert not any(5 in p for p in pairs)


def test_minhash_subset_of_exhaustive(spark):
    """LSH may miss pairs (false negatives) but must never invent them:
    after the exact-Jaccard verify, minhash pairs ⊆ exhaustive pairs."""
    d = docs(spark)
    exhaustive = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(d, threshold=0.3).collect()}
    lsh = {(r.id_a, r.id_b) for r in minhash_neardup_pairs(d, threshold=0.3).collect()}
    assert lsh <= exhaustive
    assert (1, 2) in lsh  # identical docs always collide in every band


def test_lsh_ann_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter("vec_id < 10")
    exact = cosine_topk(q, emb, dim=64, k=10).select("query_id", "neighbor_id")
    approx = lsh_cosine_topk(q, emb, dim=64, k=10).select("query_id", "neighbor_id")
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # random 64-dim vectors are the worst case for 8-plane LSH; the gate
    # checks the machinery works, not sota recall
    assert recall >= 0.5, f"recall {recall}"
    assert approx_set  # nonempty


def test_ivf_ann_recall(spark):
    from dagster_etl_spark.operators.similarity import ivf_cosine_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter("vec_id < 10")
    exact = cosine_topk(q, emb, dim=64, k=10).select("query_id", "neighbor_id")
    approx = ivf_cosine_topk(q, emb, dim=64, k=10, nlist=16, nprobe=8).select(
        "query_id", "neighbor_id"
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # uniform-random vectors spread neighbors ~evenly over buckets, so
    # nprobe/nlist = 0.5 is the expected floor; clustered real
    # embeddings do far better
    assert recall >= 0.35, f"recall {recall}"
    # every returned neighbor must be a real corpus id with rank <= k
    full = ivf_cosine_topk(q, emb, dim=64, k=10).collect()
    assert all(1 <= r.rank <= 10 for r in full)


def test_doc_stats_and_fingerprints_deterministic(spark):
    d = docs(spark)
    s = {r.doc_id: r for r in doc_stats(d).collect()}
    assert s[1].n_tokens == 9
    assert s[1].stopword_ratio == pytest.approx(2 / 9)  # 'the' twice
    assert s[6].n_tokens == 2
    f1 = {r.doc_id: (r.fp_md5, r.simhash) for r in fingerprints(d).collect()}
    f2 = {r.doc_id: (r.fp_md5, r.simhash) for r in fingerprints(d).collect()}
    assert f1 == f2
    assert f1[1] == f1[2]  # exact dups -> same fingerprint and simhash
    assert f1[1][0] != f1[5][0]


def test_connected_components_and_clusters(spark):
    from pyspark.sql import Row

    from dagster_etl_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    # two components: {1,2,3,4} via chain, {7,8}; 9 isolated (no edges)
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=3, id_b=4),
         Row(id_a=7, id_b=8)]
    )
    comp = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}

    # end-to-end on the tiny doc fixture: 1,2,3 are dups (cluster 1),
    # 4 is a near-dup of them at low threshold, 5/6 singletons
    out = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in dedup_clusters(docs(spark), threshold=0.5).collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[5] == (5, True) and out[6] == (6, True)
    canonical_per_cluster = {}
    for doc, (cl, canon) in out.items():
        canonical_per_cluster.setdefault(cl, 0)
        canonical_per_cluster[cl] += int(canon)
    assert all(v == 1 for v in canonical_per_cluster.values())


def test_hash_sample_and_split_deterministic(spark):
    from dagster_etl_spark.operators.sampling import hash_sample, hash_split

    from tests.conftest import SF_SMALL
    from dagster_etl_spark.sources.fixtures import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    n = docs.count()

    s1 = {r.doc_id for r in hash_sample(docs, 0.2).select("doc_id").collect()}
    s2 = {r.doc_id for r in hash_sample(docs, 0.2).select("doc_id").collect()}
    assert s1 == s2  # rerun-stable
    assert 0.1 * n < len(s1) < 0.3 * n  # ~20%
    # monotone: a bigger sample contains the smaller one (bucket < cut)
    s_half = {r.doc_id for r in hash_sample(docs, 0.5).select("doc_id").collect()}
    assert s1 <= s_half

    split = hash_split(docs)
    counts = {r.split: r.n for r in split.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == n
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # growth-stable: assignment on a subset equals assignment on the full set
    sub = hash_split(docs.filter("doc_id % 2 = 0"))
    full = {r.doc_id: r.split for r in split.collect()}
    for r in sub.collect():
        assert full[r.doc_id] == r.split


def test_weighted_mix_realizes_weights(spark):
    from dagster_etl_spark.operators.sampling import weighted_mix

    from tests.conftest import SF_SMALL
    from dagster_etl_spark.sources.fixtures import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    n = docs.count()
    mixed = weighted_mix({"up": (docs, 2.5), "down": (docs, 0.3)})
    counts = {
        r.source: r.n
        for r in mixed.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    assert 2 * n <= counts["up"] <= 3 * n  # every row 2x or 3x
    assert 0.15 * n < counts["down"] < 0.45 * n  # ~30%, no duplicates
    # per-row copy indices are dense 1..k
    from pyspark.sql import functions as F

    bad = (
        mixed.filter("source = 'up'")
        .groupBy("doc_id")
        .agg(F.count("*").alias("k"), F.max("copy_idx").alias("mx"))
        .filter("k != mx OR k < 2 OR k > 3")
        .count()
    )
    assert bad == 0


def test_connected_components_bounded_lineage(spark):
    """A deep (diameter ~8) chain must converge AND the result plan must
    be a checkpoint scan, not `iterations` stacked join+agg layers —
    the 100 TB lineage/recovery guarantee."""
    from pyspark.sql import Row

    from dagster_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(1, 9)]  # path 1-2-...-9
    )
    out = connected_components(pairs, checkpoint_every=2)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {i: 1 for i in range(1, 10)}
    # several rounds ran; with checkpoint_every=2 the final plan hangs
    # off a scan of checkpointed data with at most ~2 rounds above it —
    # each round is 2 joins (hop + pointer-jump), so <= 4 of those plus
    # the edge symmetrization join layers, never `iterations` deep.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan
    assert plan.count("Join") <= 6


def test_chunk_docs_window_stride_semantics(spark):
    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import chunk_docs

    text = " ".join(f"w{i}" for i in range(50))  # 50 tokens
    df = spark.createDataFrame(
        [Row(doc_id=1, text=text), Row(doc_id=2, text="   "), Row(doc_id=3, text="a b")]
    )
    out = chunk_docs(df, window=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts at 0, 24, 48 -> 3 chunks; lengths 32, 26, 2
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.n_chunk_tokens for r in c1] == [32, 26, 2]
    assert c1[0].chunk_text.startswith("w0 w1 ") and c1[0].chunk_text.endswith("w31")
    assert c1[1].chunk_text.startswith("w24 ")  # overlap of window-stride=8
    assert c1[2].chunk_text == "w48 w49"
    # whitespace-only doc yields no chunks; short doc yields one
    assert 2 not in by_doc
    assert [r.chunk_text for r in by_doc[3]] == ["a b"]


def test_pack_chunks_invariants(spark):
    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import pack_chunks

    rows = [
        Row(doc_id=d, chunk_idx=i, n_chunk_tokens=n)
        for d, i, n in [(1, 0, 300), (1, 1, 300), (2, 0, 300), (2, 1, 100), (3, 0, 700)]
    ]
    out = pack_chunks(
        spark.createDataFrame(rows), seq_len=512, buckets=1
    ).collect()
    # bucket 1: packing is first-fit in (doc, chunk) order with running
    # totals 300/600/900/1000/1700 -> seq = prev_total DIV 512
    got = {(r.doc_id, r.chunk_idx): r.seq_id for r in out}
    assert got == {(1, 0): 0, (1, 1): 0, (2, 0): 1, (2, 1): 1, (3, 0): 1}
    # deterministic across reruns
    out2 = pack_chunks(spark.createDataFrame(rows), seq_len=512, buckets=1).collect()
    assert {(r.doc_id, r.chunk_idx, r.seq_id) for r in out2} == {
        (r.doc_id, r.chunk_idx, r.seq_id) for r in out
    }


def test_stratified_sample_rates_and_determinism(spark):
    from dagster_etl_spark.operators.sampling import stratified_sample

    ev = load_table(spark, SF, "events")
    out = stratified_sample(
        ev, rates={"click": 0.2, "purchase": 1.0}, strata_col="event_type",
        id_col="event_id",
    )
    counts = {r.event_type: r.n for r in out.groupBy("event_type").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    totals = {r.event_type: r.n for r in ev.groupBy("event_type").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert set(counts) <= {"click", "purchase"}  # unlisted strata dropped
    assert counts["purchase"] == totals["purchase"]  # rate 1.0 keeps all
    assert 0.1 <= counts["click"] / totals["click"] <= 0.3  # ~20%
    ids1 = {r.event_id for r in out.select("event_id").collect()}
    ids2 = {r.event_id for r in stratified_sample(
        ev, rates={"click": 0.2, "purchase": 1.0}, strata_col="event_type",
        id_col="event_id").select("event_id").collect()}
    assert ids1 == ids2


def test_stratified_sample_escapes_quoted_strata(spark):
    """A stratum value containing a single quote must not break (or
    alter) the generated predicate — ADVICE r2."""
    from dagster_etl_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "o'reilly" if i % 2 else "plain") for i in range(200)],
        "doc_id int, kind string",
    )
    out = stratified_sample(df, rates={"o'reilly": 1.0}, strata_col="kind")
    rows = out.collect()
    assert len(rows) == 100
    assert all(r.kind == "o'reilly" for r in rows)


def test_winnowing_shared_substring_guarantee(spark):
    """The MOSS guarantee: two documents sharing a substring of length
    >= k + w - 1 (= 11 at the defaults) share at least one
    fingerprint; disjoint-alphabet documents share none."""
    from dagster_etl_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "cccc dddd " + shared),
            (3, "zzzzzzzzzzzz yyyyyyyyyyyy xxxxxxxxxxxx"),
        ],
        "doc_id int, text string",
    )
    fps = winnow_fingerprints(df).collect()
    by_doc = {i: {r.fp for r in fps if r.doc_id == i} for i in (1, 2, 3)}
    assert by_doc[1] & by_doc[2]  # shared substring -> shared fingerprint
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_bigram_novelty_and_vocab_oov_bounds(spark):
    """Rates are exact count ratios in [0, 1]; a doc made of corpus-
    unique bigrams scores novelty 1.0."""
    from dagster_etl_spark.registry import all_queries

    specs = all_queries()
    nov = {r.doc_id: r for r in specs["bigram_novelty"].fn(spark, SF).collect()}
    assert all(0.0 <= r.novelty_rate <= 1.0 for r in nov.values())
    assert all(r.n_rare <= r.n_bigrams for r in nov.values())
    oov = {r.doc_id: r for r in specs["vocab_oov"].fn(spark, SF).collect()}
    assert all(0.0 <= r.oov_rate <= 1.0 for r in oov.values())
    # the vocabulary covers the corpus head: mean OOV rate is well below 1
    rates = [r.oov_rate for r in oov.values()]
    assert sum(rates) / len(rates) < 0.9


def test_funnel_monotone_and_cohort_shape(spark):
    from dagster_etl_spark.registry import all_queries

    specs = all_queries()
    f = specs["funnel_conversion"].fn(spark, SF).collect()[0]
    assert f.n_users >= f.n_view >= f.n_click_after_view >= f.n_purchase_after_click
    assert f.n_purchase_after_click > 0  # fixture users are active

    rows = specs["cohort_retention"].fn(spark, SF).collect()
    assert all(r.cohort_week_s <= r.week_s for r in rows)  # no pre-cohort activity
    # diagonal is complete: every cohort is active in its own first week
    cohorts = {r.cohort_week_s for r in rows}
    assert all(any(r.cohort_week_s == c and r.week_s == c for r in rows) for c in cohorts)


def test_table_diff_identical_tables_empty_and_null_sensitivity(spark):
    from dagster_etl_spark.operators.reconcile import table_diff

    a = spark.createDataFrame(
        [(1, "x", None), (2, None, 5.0), (3, "z", 1.0)],
        "id int, s string, v double",
    )
    assert table_diff(a, a, ["id"]).count() == 0  # identical -> no drift
    # NULL vs the string 'null' must differ (null-tagged digest)
    b = spark.createDataFrame(
        [(1, "x", None), (2, "null", 5.0), (3, "z", 1.0)],
        "id int, s string, v double",
    )
    d = {r.id: r.status for r in table_diff(a, b, ["id"]).collect()}
    assert d == {2: "different"}


def test_dedup_lines_drops_cross_doc_boilerplate(spark):
    rows = [
        Row(doc_id=1, text="COOKIE BANNER\nunique alpha content\n\nfooter text"),
        Row(doc_id=2, text="cookie banner\nunique beta content\nfooter text"),
        Row(doc_id=3, text="totally original document"),
    ]
    out = {r.doc_id: r for r in dedup_lines(spark.createDataFrame(rows)).collect()}
    # "COOKIE BANNER" ~ "cookie banner" (normalized) and "footer text"
    # occur in 2 docs -> dropped; the blank line is structure, kept;
    # surviving lines keep their original order
    assert out[1].text == "unique alpha content\n"
    assert (out[1].n_lines, out[1].n_dropped) == (4, 2)
    assert out[2].text == "unique beta content"
    assert (out[2].n_lines, out[2].n_dropped) == (3, 2)
    assert out[3].text == "totally original document"
    assert out[3].n_dropped == 0


def test_dedup_lines_min_docs_gate(spark):
    rows = [
        Row(doc_id=1, text="shared line\nalpha"),
        Row(doc_id=2, text="shared line\nbeta"),
    ]
    df = spark.createDataFrame(rows)
    # at min_docs=3 a 2-doc line is below the gate: nothing dropped
    out = {r.doc_id: r for r in dedup_lines(df, min_docs=3).collect()}
    assert out[1].text == "shared line\nalpha" and out[1].n_dropped == 0
    # repeated instances of a boilerplate line are each counted dropped
    rows3 = rows + [Row(doc_id=3, text="shared line\nshared line\ngamma")]
    out3 = {
        r.doc_id: r
        for r in dedup_lines(spark.createDataFrame(rows3), min_docs=2).collect()
    }
    assert out3[3].text == "gamma" and out3[3].n_dropped == 2


def test_cluster_survivors_picks_quality_not_min_id(spark):
    rows = [
        # near-identical pair: doc 1 carries an extra all-punctuation
        # token, which costs it more quality (punct_ratio) than the
        # extra token count earns -> doc 2 must win despite its larger id
        Row(doc_id=1, text="alpha beta gamma delta epsilon zeta eta theta iota kappa !!!"),
        Row(doc_id=2, text="alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        Row(doc_id=3, text="unrelated content entirely about spark engines today"),
    ]
    out = {
        r.cluster_id: r
        for r in cluster_survivors(spark.createDataFrame(rows), threshold=0.3).collect()
    }
    assert out[1].kept_doc == 2  # quality beats min-id
    assert (out[1].n_docs, out[1].n_dropped) == (2, 1)
    assert out[3].kept_doc == 3 and out[3].n_dropped == 0  # singleton


def test_cluster_survivors_tiebreak_min_id(spark):
    rows = [
        Row(doc_id=11, text="one two three four five six seven eight nine ten"),
        Row(doc_id=10, text="one two three four five six seven eight nine ten"),
    ]
    out = cluster_survivors(spark.createDataFrame(rows), threshold=0.3).collect()
    assert len(out) == 1 and out[0].kept_doc == 10  # equal scores -> min id


def test_drop_key_duplicates(spark):
    rows = [
        Row(doc_id=5, url="a.com", text="x"),
        Row(doc_id=2, url="a.com", text="y"),
        Row(doc_id=7, url="b.com", text="z"),
    ]
    kept = sorted(
        r.doc_id
        for r in drop_key_duplicates(spark.createDataFrame(rows), key_col="url").collect()
    )
    assert kept == [2, 7]


def test_dedup_lines_literal_separator(spark):
    # line_sep is a literal, not a regex: "|" must split on pipes, and
    # the rebuilt text must round-trip through the same separator
    rows = [
        Row(doc_id=1, text="nav bar|real content one|footer"),
        Row(doc_id=2, text="nav bar|real content two|footer"),
    ]
    out = {
        r.doc_id: r
        for r in dedup_lines(spark.createDataFrame(rows), line_sep="|").collect()
    }
    assert out[1].text == "real content one"
    assert (out[1].n_lines, out[1].n_dropped) == (3, 2)
    assert out[2].text == "real content two"


def test_cluster_survivors_string_ids(spark):
    # string ids can't take the numeric struct-max tiebreak; the
    # two-phase fallback must pick the same quality winner with a
    # lexicographic min-id tiebreak
    rows = [
        Row(doc_id="doc-b", text="alpha beta gamma delta epsilon zeta eta theta iota kappa !!!"),
        Row(doc_id="doc-a", text="alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        Row(doc_id="doc-z", text="unrelated content entirely about spark engines today"),
    ]
    out = {
        r.cluster_id: r
        for r in cluster_survivors(spark.createDataFrame(rows), threshold=0.3).collect()
    }
    assert out["doc-a"].kept_doc == "doc-a"  # quality beats the '!!!' doc
    assert (out["doc-a"].n_docs, out["doc-a"].n_dropped) == (2, 1)
    assert out["doc-z"].kept_doc == "doc-z" and out["doc-z"].n_dropped == 0
    # exact score tie -> lexicographic min id
    tie = [
        Row(doc_id="k2", text="one two three four five six seven eight nine ten"),
        Row(doc_id="k1", text="one two three four five six seven eight nine ten"),
    ]
    t = cluster_survivors(spark.createDataFrame(tie), threshold=0.3).collect()
    assert len(t) == 1 and t[0].kept_doc == "k1"


def test_sampling_edge_cases(spark):
    """NULL ids, empty/negative mixtures, non-string strata: the
    degenerate inputs a crawl pipeline will eventually feed in."""
    import pytest as _pytest

    from dagster_etl_spark.operators.sampling import (
        hash_sample,
        hash_split,
        stratified_sample,
        weighted_mix,
    )

    df = spark.createDataFrame(
        [Row(doc_id=None, text="orphan")] + [Row(doc_id=i, text="t") for i in range(50)],
        "doc_id long, text string",
    )
    # null ids are always dropped from samples...
    assert all(
        r.doc_id is not None for r in hash_sample(df, 0.9).collect()
    )
    # ...and get a NULL split label, NOT the last (test) split
    labels = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert labels[None] is None
    assert set(labels.values()) - {None} <= {"train", "val", "test"}

    with _pytest.raises(ValueError, match="fraction"):
        hash_sample(df, 1.5)
    with _pytest.raises(ValueError, match="at least one source"):
        weighted_mix({})
    with _pytest.raises(ValueError, match=">= 0"):
        weighted_mix({"web": (df, -0.5)})

    # integer strata values coerce to string literals
    idf = spark.createDataFrame(
        [Row(doc_id=i, grp=str(i % 2)) for i in range(40)],
        "doc_id long, grp string",
    )
    kept = stratified_sample(idf, {0: 1.0, 1: 0.0}, "grp").collect()
    assert kept and all(r.grp == "0" for r in kept)


def test_cluster_survivors_all_null_score_cluster_survives_both_paths(spark):
    """Empty text yields quality_score NULL; pre-fix the non-numeric-id
    fallback's plain == argmax filter dropped any cluster whose every
    member scored NULL, while the numeric struct-max path kept it. Both
    paths must emit the cluster with best_score NULL (ADVICE r6)."""
    real = "real content about spark engines and parquet files"
    srows = [Row(doc_id="u1", text=""), Row(doc_id="u2", text=""),
             Row(doc_id="u3", text=real)]
    sout = {r.kept_doc: r for r in
            cluster_survivors(spark.createDataFrame(srows), threshold=0.3).collect()}
    assert set(sout) == {"u1", "u2", "u3"}
    assert sout["u1"].best_score is None and sout["u3"].best_score is not None

    nrows = [Row(doc_id=1, text=""), Row(doc_id=2, text=""), Row(doc_id=3, text=real)]
    nout = {r.kept_doc: r for r in
            cluster_survivors(spark.createDataFrame(nrows), threshold=0.3).collect()}
    assert set(nout) == {1, 2, 3}
    assert nout[1].best_score is None and nout[3].best_score is not None


def test_dedup_lines_degenerate_inputs(spark):
    """NULL-text docs drop out of the output (split(NULL) explodes to
    nothing — same convention as hash_sample's NULL-id drop); an
    all-identical corpus rebuilds every doc as empty text with full
    drop counts rather than erroring."""
    rows = [Row(doc_id=1, text="a\nb"), Row(doc_id=2, text=None),
            Row(doc_id=3, text="a\nc")]
    out = {r.doc_id: r for r in dedup_lines(spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 3}  # NULL-text doc absent, others unaffected
    assert out[1].text == "b" and out[1].n_dropped == 1

    same = [Row(doc_id=i, text="same\nlines\nhere") for i in range(5)]
    allout = dedup_lines(spark.createDataFrame(same)).collect()
    assert len(allout) == 5
    assert all(r.text == "" and r.n_dropped == 3 for r in allout)


def test_drop_key_duplicates_null_keys_form_one_group(spark):
    """NULL keys group together under groupBy (SQL GROUP BY semantics):
    the min-id NULL-key row survives, the rest drop — no row with a
    NULL key silently passes through unexamined."""
    rows = [Row(doc_id=4, url=None, text="x"), Row(doc_id=2, url=None, text="y"),
            Row(doc_id=3, url="b.com", text="z")]
    kept = sorted(r.doc_id for r in
                  drop_key_duplicates(spark.createDataFrame(rows), key_col="url").collect())
    assert kept == [2, 3]


def test_connected_components_truncates_edge_lineage(spark, tmp_path):
    """The edge set must be CHECKPOINTED, not persisted: persist caches
    execution but every fixpoint iteration still re-ANALYZES the pairs
    frame's full logical tree, which dominated wall-clock 100:1 when CC
    ran downstream of the composed curation pipeline (r8). A CC built
    over a deep multi-join lineage must yield a plan with no trace of
    the upstream source and a bounded join count."""
    import pandas as pd

    from dagster_etl_spark.operators.dedup import connected_components

    pd.DataFrame({"id": list(range(1, 10))}).to_parquet(tmp_path / "ids.parquet")
    ids = spark.read.parquet(str(tmp_path / "ids.parquet"))
    # contrived deep lineage: self-joins + aggregate feeding the pairs
    a = ids.selectExpr("id AS id_a")
    b = ids.selectExpr("id AS id_b")
    pairs = (
        a.join(b, a.id_a + 1 == b.id_b)  # path edges 1-2, ..., 8-9
        .join(ids, ids.id == a.id_a)
        .groupBy("id_a", "id_b")
        .agg({})
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs)
    labels = {r.doc_id: r.cluster_id for r in comp.collect()}
    assert labels == {i: 1 for i in range(1, 10)}
    plan = comp._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan.lower(), plan  # upstream gone: leaf scan
    assert plan.count("Join") <= 6, plan


def test_duplicate_ngram_spans_coverage_math(spark):
    """Hand-computed ExactSubstr-style span coverage at k=3: overlapping
    dup spans union via the gap identity, intra-doc repeats count
    toward corpus frequency, sub-k and empty docs survive with zeros."""
    from dagster_etl_spark.operators.dedup import duplicate_ngram_spans

    rows = [
        (1, "a b c d e f"),        # "a b c","b c d" dup'd vs doc 2
        (2, "a b c d x y"),
        (3, "z z z z z z z"),      # all 5 trigram positions intra-dup
        (4, "q w"),                # shorter than k
        (5, " "),                  # whitespace-only -> 0 tokens
        (6, "a b c m n a b c"),    # dup at pos 0 and 5: gap > k
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r.asDict()
        for r in duplicate_ngram_spans(df, k=3, min_count=2).collect()
    }
    assert len(got) == 6
    # doc 1/2: positions {0,1} -> union [0,4) = 4 tokens
    for d in (1, 2):
        assert (got[d]["n_tokens"], got[d]["n_ngrams"]) == (6, 4)
        assert (got[d]["dup_ngrams"], got[d]["dup_tokens"]) == (2, 4)
        assert got[d]["dup_token_frac"] == 4.0 / 6
    # doc 3: every position dup'd, union covers the whole doc
    assert (got[3]["dup_ngrams"], got[3]["dup_tokens"]) == (5, 7)
    assert got[3]["dup_token_frac"] == 1.0
    # doc 4: no ngrams at all
    assert (got[4]["n_tokens"], got[4]["n_ngrams"]) == (2, 0)
    assert (got[4]["dup_ngrams"], got[4]["dup_tokens"]) == (0, 0)
    assert got[4]["dup_token_frac"] == 0.0
    # doc 5: zero tokens, frac guarded to 0.0 (not NaN)
    assert got[5]["n_tokens"] == 0 and got[5]["dup_token_frac"] == 0.0
    # doc 6: dup positions {0,5}, gap 5 > k -> two disjoint 3-spans
    assert (got[6]["dup_ngrams"], got[6]["dup_tokens"]) == (2, 6)
    assert got[6]["dup_token_frac"] == 6.0 / 8


def test_epoch_shuffle_is_seeded_permutation(spark):
    """epoch_shuffle yields a valid sharded permutation: every row kept
    exactly once, positions contiguous from 1 per shard, order stable
    across reruns, and a different seed produces a different order."""
    from dagster_etl_spark.operators.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    out = epoch_shuffle(df, seed=3, num_shards=4).collect()
    assert sorted(r.doc_id for r in out) == list(range(200))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # deterministic rerun
    again = epoch_shuffle(df, seed=3, num_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # reseeding reshuffles: the (shard, pos) -> doc map must differ
    other = epoch_shuffle(df, seed=4, num_shards=4).collect()
    ord3 = [r.doc_id for r in sorted(out, key=lambda r: (r.shard, r.pos))]
    ord4 = [r.doc_id for r in sorted(other, key=lambda r: (r.shard, r.pos))]
    assert ord3 != ord4


def test_dedup_self_repeats(spark):
    """Within-doc repetition removal: later repeats of a normalized
    line drop, first stays, blanks always stay (structure), other
    docs' identical lines are untouched (NO cross-doc state), and the
    reassembly preserves original order."""
    import pandas as pd

    from dagster_etl_spark.operators.dedup import dedup_self_repeats

    rows = [
        # doc 1: 'spam' repeats 3x (case/space variants), blank kept
        (1, "alpha\nSpam\nbeta\n\nspam \ngamma\nSPAM"),
        # doc 2: the same 'spam' line once — must NOT be dropped
        (2, "spam\ndelta"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r.doc_id: r for r in dedup_self_repeats(df).collect()}
    assert got[1].text == "alpha\nSpam\nbeta\n\ngamma"
    assert got[1].n_lines == 7 and got[1].n_dropped == 2
    assert got[2].text == "spam\ndelta" and got[2].n_dropped == 0


def test_semantic_dedup_matches_numpy_replica(spark):
    """semantic_dedup (SemDeDup) vs an independent numpy recompute of
    the whole pass on the sf0.001 (SF_SMALL) embeddings: same hash-quantizer
    centroids, max-dot assignment, within-bucket pairs, and the
    keep-the-least-centroid-similar rule."""
    import hashlib

    import numpy as np

    from dagster_etl_spark.operators.dedup import semantic_dedup
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    got = {
        r.vec_id: (r.bucket, r.cent_cosine, r.kept)
        for r in semantic_dedup(emb, threshold=0.30).collect()
    }

    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([[float(v) for v in r.embedding] for r in rows])
    # hash centroids: nlist smallest 60-bit md5('ivfc:' || id) prefixes
    hh = np.array(
        [int(hashlib.md5(f"ivfc:{i}".encode()).hexdigest()[:15], 16) for i in ids]
    )
    order = np.lexsort((ids, hh))[:16]
    C = V[order]
    dots = V @ C.T
    bucket = np.argmax(dots, axis=1)  # ties: argmax picks LOWEST idx...
    # ...but the operator ranks (score, idx) structs descending, so an
    # exact-dot tie picks the HIGHEST idx; replicate with a reversed scan
    bucket = (C.shape[0] - 1) - np.argmax(dots[:, ::-1], axis=1)
    norms = np.linalg.norm(V, axis=1)
    cnorm = np.linalg.norm(C, axis=1)
    ccos = dots[np.arange(len(ids)), bucket] / (norms * cnorm[bucket])
    kept = {}
    for i, vid in enumerate(ids):
        drop = False
        for j, wid in enumerate(ids):
            if i == j or bucket[i] != bucket[j]:
                continue
            pc = float(V[i] @ V[j]) / (norms[i] * norms[j])
            if pc < 0.30:
                continue
            if (ccos[j] < ccos[i]) or (ccos[j] == ccos[i] and wid < vid):
                drop = True
                break
        kept[int(vid)] = not drop

    assert set(got) == {int(v) for v in ids}
    n_dropped = sum(1 for k in kept.values() if not k)
    assert n_dropped > 0, "fixture produced no semantic dups; lower the threshold"
    for vid in kept:
        b, cc, k = got[vid]
        assert b == bucket[list(ids).index(vid)], (vid, b)
        assert k == kept[vid], (vid, k, kept[vid])


def test_pq_matches_numpy_replica(spark):
    """pq_cosine_topk vs an independent numpy recompute of the whole
    PQ pass on the sf0.001 embeddings: per-subspace hash codebooks,
    argmin-L2 encoding (ties to lower index), reconstruction, cosine
    ranking."""
    import hashlib

    import numpy as np

    from dagster_etl_spark.operators.similarity import pq_cosine_topk
    from dagster_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.pq_cosine)
        for r in pq_cosine_topk(emb.filter("vec_id < 5"), emb).collect()
    }

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    V = np.array([[float(v) for v in r.embedding] for r in rows])
    m, ksub, ds = 8, 16, 8
    books = []
    for j in range(m):
        hh = np.array(
            [
                int(hashlib.md5(f"pqc{j}:{i}".encode()).hexdigest()[:15], 16)
                for i in ids
            ]
        )
        sel = np.lexsort((ids, hh))[:ksub]
        books.append(V[sel, j * ds : (j + 1) * ds])
    recon = np.empty_like(V)
    for j in range(m):
        sub = V[:, j * ds : (j + 1) * ds]
        # argmin L2, ties to lower index (numpy argmin picks first)
        d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes = np.argmin(d2, axis=1)
        recon[:, j * ds : (j + 1) * ds] = books[j][codes]
    for qi in ids[ids < 5]:
        q = V[list(ids).index(qi)]
        cos = (recon @ q) / (
            np.linalg.norm(recon, axis=1) * np.linalg.norm(q)
        )
        order = sorted(
            ((float(-c), int(i)) for c, i in zip(cos, ids) if i != qi)
        )[:10]
        for rank, (negc, nid) in enumerate(order, start=1):
            gnid, gcos = got[(qi, rank)]
            assert gnid == nid, (qi, rank, gnid, nid)
            assert abs(gcos - (-negc)) < 1e-9


def test_pq_compresses_and_recalls_on_clustered(spark):
    """The PQ design point: on clustered vectors (the test_ann_recall
    regime) the 8-byte codes preserve cluster geometry — recall@10 vs
    exact must clear a floor no random ranking could (random recall
    at k=10/N=1280 is ~0.008). Also pins the compression claim: the
    encoded table is m small ints per vector."""
    import numpy as np

    from dagster_etl_spark.operators.similarity import (
        cosine_topk,
        pq_codebooks,
        pq_cosine_topk,
        pq_encode,
    )

    rng = np.random.default_rng(99)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers.repeat(80, axis=0) + 0.08 * rng.normal(size=(1280, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    ).cache()
    queries = corpus.filter("vec_id % 107 = 0").cache()

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, corpus, dim=64, k=10).collect()
    }
    approx = pq_cosine_topk(queries, corpus, dim=64, k=10).collect()
    recall = sum((r.query_id, r.neighbor_id) in exact for r in approx) / len(exact)
    # pure PQ is lossy WITHIN a tight cluster (members reconstruct to
    # near-identical x-hat, so the fine order among them is noise):
    # measured 0.22 here vs 0.008 random — the floor checks the codes
    # preserve COARSE geometry; fine order is the rerank stage's job
    assert recall >= 0.15, f"PQ recall {recall:.3f} below the clustered floor"

    # retrieve-then-rerank (the deployment shape): exact scores on the
    # top-50 PQ candidates recover nearly all true neighbors
    from dagster_etl_spark.operators.similarity import pq_rerank_topk

    rer = pq_rerank_topk(queries, corpus, dim=64, k=10, rerank=50).collect()
    rrecall = sum((r.query_id, r.neighbor_id) in exact for r in rer) / len(exact)
    assert rrecall >= 0.8, f"PQ+rerank recall {rrecall:.3f} below floor"

    codes = pq_encode(corpus, pq_codebooks(corpus))
    assert codes.columns == ["vec_id"] + [f"code_{j}" for j in range(8)]


def test_ivf_pq_recall_on_clustered(spark):
    """IVF-PQ + exact rerank on clustered vectors (the deployment
    shape end-to-end): probing half the lists and rescoring 50
    candidates must recover nearly all true neighbors — the PQ codes
    only need to get the right candidates INTO the rerank window."""
    import numpy as np

    from dagster_etl_spark.operators.similarity import cosine_topk, ivf_pq_topk

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers.repeat(80, axis=0) + 0.08 * rng.normal(size=(1280, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    ).cache()
    queries = corpus.filter("vec_id % 107 = 0").cache()

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(queries, corpus, dim=64, k=10).collect()
    }
    got = ivf_pq_topk(queries, corpus, dim=64, k=10, nprobe=8).collect()
    recall = sum((r.query_id, r.neighbor_id) in exact for r in got) / len(exact)
    assert recall >= 0.7, f"IVF-PQ+rerank recall {recall:.3f} below floor"


def test_cross_corpus_neardup_pairs_semantics(spark):
    """Cross-corpus near-dup must pair docs ACROSS the two inputs only
    (never two train docs or two eval docs), find the cross near-dup
    the self-join would also find, and agree with exhaustive Jaccard
    on the cross pairs it emits."""
    from dagster_etl_spark.operators.dedup import cross_corpus_neardup_pairs

    d = docs(spark)
    left = d.filter("doc_id IN (1, 4, 5)")   # train slice
    right = d.filter("doc_id IN (2, 3, 6)")  # eval slice
    got = {
        (r.left_id, r.right_id): r.jaccard
        for r in cross_corpus_neardup_pairs(left, right, threshold=0.2).collect()
    }
    # exact dups always collide on every band (identical signatures):
    # 1 vs 2 (same text) and 1 vs 3 (case/whitespace-normalized dup)
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0
    # 4 vs 2 (jaccard ~0.4) MAY be missed — band-match probability at
    # 16 hashes / 4 bands is ~10% there; a miss is the documented LSH
    # trade-off, a wrong score would be a bug
    if (4, 2) in got:
        assert 0.2 <= got[(4, 2)] < 1.0
    # sides are disjoint by construction: every pair is (left, right)
    left_ids, right_ids = {1, 4, 5}, {2, 3, 6}
    for li, ri in got:
        assert li in left_ids and ri in right_ids
    # agreement with exhaustive cross Jaccard (LSH may miss, never
    # hallucinate: candidates are verified exactly)
    exhaustive = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(d, threshold=0.2).collect()
    }
    for (li, ri), j in got.items():
        a, b = min(li, ri), max(li, ri)
        assert abs(exhaustive[(a, b)] - j) < 1e-12


def test_filtered_cosine_topk_respects_group(spark):
    """Filtered search: every returned neighbor shares the query's
    label; within the group the ranking equals brute-force cosine."""
    from dagster_etl_spark.operators.similarity import (
        cosine_topk,
        filtered_cosine_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    got = filtered_cosine_topk(emb.filter("vec_id < 5"), emb, k=5).collect()
    assert got, "no filtered neighbors returned"
    for r in got:
        assert labels[r.neighbor_id] == labels[r.query_id]
        assert r.neighbor_id != r.query_id
    # equivalence: filtered top-k == brute-force top-k over the
    # pre-filtered corpus, per query group
    for qid in {r.query_id for r in got}:
        sub = emb.filter(f"label = {labels[qid]}")
        want = [
            (r.neighbor_id, r.rank)
            for r in cosine_topk(
                emb.filter(f"vec_id = {qid}"), sub, k=5
            ).collect()
        ]
        have = sorted(
            [(r.neighbor_id, r.rank) for r in got if r.query_id == qid],
            key=lambda t: t[1],
        )
        assert have == sorted(want, key=lambda t: t[1])


def test_temperature_mixture_flattens_and_allocates(spark):
    """alpha=0.5 temperature weights: shares sum to ~1, small sources
    gain share vs proportional, allocations are exact integers that
    never exceed the budget in total."""
    from dagster_etl_spark.operators.sampling import temperature_mixture

    rows = [
        Row(source="big", n_chars=90_000),
        Row(source="big", n_chars=10_000),
        Row(source="small", n_chars=900),
        Row(source="small", n_chars=100),
    ]
    out = {
        r.source: r
        for r in temperature_mixture(
            spark.createDataFrame(rows), budget=1_000_000
        ).collect()
    }
    big, small = out["big"], out["small"]
    assert big.n_tokens == 100_000 and small.n_tokens == 1_000
    # isqrt weights: 316 and 31
    assert big.temp_weight == 316 and small.temp_weight == 31
    assert abs(big.raw_share + small.raw_share - 1.0) < 1e-12
    assert abs(big.temp_share + small.temp_share - 1.0) < 1e-12
    # flattening: the small source's share grows, the big one's shrinks
    assert small.temp_share > small.raw_share
    assert big.temp_share < big.raw_share
    # exact integer allocation, total within budget
    assert big.alloc_tokens == 1_000_000 * 316 // 347
    assert small.alloc_tokens == 1_000_000 * 31 // 347
    assert big.alloc_tokens + small.alloc_tokens <= 1_000_000


def test_filtered_ivf_recall_vs_filtered_exact(spark):
    """Filtered IVF: every hit shares the query's label (the predicate
    is enforced at candidate generation), and per-query overlap with
    the exact filtered top-k clears the machinery-is-broken floor
    (uniform-random fixture vectors are the IVF worst case)."""
    from dagster_etl_spark.operators.similarity import (
        filtered_cosine_topk,
        filtered_ivf_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    q = emb.filter("vec_id < 5")
    approx = filtered_ivf_topk(q, emb, k=10).collect()
    assert approx, "filtered IVF returned nothing"
    for r in approx:
        assert labels[r.neighbor_id] == labels[r.query_id]
    exact = filtered_cosine_topk(q, emb, k=10).collect()
    for qid in {r.query_id for r in exact}:
        want = {r.neighbor_id for r in exact if r.query_id == qid}
        have = {r.neighbor_id for r in approx if r.query_id == qid}
        assert len(want & have) >= 2, (
            f"query {qid}: filtered IVF shares {len(want & have)}/10 "
            "with filtered exact — below the machinery floor"
        )


def test_minhash_estimate_gate_bands(spark):
    """The signature estimator on verified near-dup pairs: exact
    arithmetic error bands — no pair may be off by more than 0.5
    (4 sigma at 16 hashes = broken machinery, not sampling noise),
    and the 2-sigma band holds the majority."""
    from dagster_etl_spark.operators.dedup import minhash_estimate_accuracy

    docs = load_table(spark, SF, "documents")
    row = minhash_estimate_accuracy(docs).collect()[0]
    assert row.n_pairs > 0, "fixture produced no verified pairs"
    assert row.n_above_05 == 0
    assert row.n_within_025 * 2 >= row.n_pairs


def test_cm_heavy_hitters_properties(spark):
    """Count-Min structural guarantees on a pinned fixture: estimates
    never under-count, the heavy hitter's estimate is exact when its
    cells don't collide with heavier mass, and the rank order follows
    exact counts."""
    from dagster_etl_spark.operators.text import cm_heavy_hitters

    rows = [Row(doc_id=1, text="alpha alpha alpha alpha beta beta gamma")]
    out = cm_heavy_hitters(spark.createDataFrame(rows), k=5).collect()
    by_tok = {r.token: r for r in out}
    assert by_tok["alpha"].exact_count == 4
    assert by_tok["beta"].exact_count == 2
    assert all(r.cm_estimate >= r.exact_count for r in out)
    assert all(r.overcount_ok for r in out)
    ranks = [r.token for r in sorted(out, key=lambda r: r.rank)]
    assert ranks[0] == "alpha" and ranks[1] == "beta"


def test_bm25_idf_ordering_and_saturation(spark):
    """BM25 invariants on a hand-built corpus with doc 0 as the query
    (seed_mod leaves only doc_id 0): (1) matching a RARE query term
    outranks matching only the ubiquitous one (idf ordering); (2) term
    frequency saturates — 6x the tf must score strictly less than 6x
    the single-occurrence score (k1 cap) while still scoring higher;
    (3) the query never ranks itself and non-overlapping docs are
    never scored; (4) the double score is exactly the fixed-point
    integer over the scale."""
    from dagster_etl_spark.operators.text import BM25_SCALE, bm25_topk_docs

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha beta common common"),
            Row(doc_id=1, text="alpha common"),
            Row(doc_id=2, text="common common common"),
            Row(doc_id=3, text="beta beta beta beta beta beta"),
            Row(doc_id=4, text="zzz yyy"),
            Row(doc_id=5, text="beta"),
        ]
    )
    out = bm25_topk_docs(docs, k=10, seed_mod=97).collect()
    assert {r.query_id for r in out} == {0}
    scores = {r.doc_id: r.score_scaled for r in out}
    assert 0 not in scores, "query ranked itself"
    assert 4 not in scores, "doc sharing no term was scored"
    # idf: doc 1 matches rare 'alpha' (+ 'common'); doc 2 only the
    # term every scored doc has
    assert scores[1] > scores[2]
    # saturation: doc 3 = 6x 'beta' vs doc 5 = 1x 'beta'
    assert scores[5] < scores[3] < 6 * scores[5]
    for r in out:
        assert r.score == r.score_scaled / BM25_SCALE
    ranks = [r.rank for r in sorted(out, key=lambda r: (-r.score_scaled, r.doc_id))]
    assert ranks == list(range(1, len(out) + 1))


def test_dedup_substrings_removes_shared_span_exactly(spark):
    """ExactSubstr removal invariants on a hand-built corpus: docs 1
    and 2 share a 10-token run (>= k=8) embedded in distinct prefixes/
    suffixes; doc 3 shares nothing. The shared maximal span must be
    removed from BOTH carriers at exact boundaries (prefix/suffix
    tokens survive), the clean doc passes through normalized, and the
    span/token counters agree with the removal."""
    from dagster_etl_spark.operators.dedup import dedup_substrings

    shared = " ".join(f"dup{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"aaa bbb {shared} ccc"),
            Row(doc_id=2, text=f"xxx {shared} yyy zzz"),
            Row(doc_id=3, text="unique words only here"),
        ]
    )
    out = {r.doc_id: r for r in dedup_substrings(docs, k=8, min_count=2).collect()}
    assert out[1].text == "aaa bbb ccc"
    assert out[2].text == "xxx yyy zzz"
    assert out[3].text == "unique words only here"
    for i in (1, 2):
        assert out[i].n_removed_tokens == 10
        assert out[i].n_spans_removed == 1
    assert out[3].n_removed_tokens == 0 and out[3].n_spans_removed == 0
    assert out[1].n_tokens == 13 and out[3].n_tokens == 4


def test_dedup_substrings_merges_touching_islands(spark):
    """Two duplicated 8-gram runs separated by a gap <= k must coalesce
    into ONE maximal span (the paper's span merging); a gap > k stays
    two spans and the between-gap tokens survive."""
    from dagster_etl_spark.operators.dedup import dedup_substrings

    run_a = " ".join(f"aa{i}" for i in range(8))
    run_b = " ".join(f"bb{i}" for i in range(8))
    gap_big = " ".join(f"h{i}" for i in range(12))        # gap > k survives
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{run_a} {run_b}"),
            Row(doc_id=2, text=f"{run_a} {gap_big} {run_b}"),
            Row(doc_id=3, text=f"p0 {run_a} p1"),
            Row(doc_id=4, text=f"q0 {run_b} q1"),
        ]
    )
    out = {r.doc_id: r for r in dedup_substrings(docs, k=8, min_count=2).collect()}
    # doc 1: duplicated shingles at positions 0 and 8 — the [0,8) and
    # [8,16) intervals TOUCH (gap == k), so they coalesce into one
    # maximal span covering the whole doc
    assert out[1].n_spans_removed == 1
    assert out[1].text == ""
    # doc 2: duplicated at 0 and 20 — distinct islands, the 12-token
    # gap survives
    assert out[2].n_spans_removed == 2
    assert out[2].text == gap_big
    assert out[3].text == "p0 p1" and out[4].text == "q0 q1"


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """The blind-spot claim, tested directly: a short doc embedded
    verbatim inside a much longer one has containment 1.0 in the short
    direction but Jaccard far below the 0.2 near-dup threshold — the
    Jaccard join must NOT pair them while the containment join must."""
    from dagster_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = " ".join(f"w{i}" for i in range(20))
    long = short + " " + " ".join(f"z{i}" for i in range(200))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=short),
            Row(doc_id=2, text=long),
            Row(doc_id=3, text=" ".join(f"q{i}" for i in range(30))),
        ]
    )
    cont = {(r.id_a, r.id_b): r for r in containment_pairs(docs, k=3, threshold=0.5).collect()}
    assert (1, 2) in cont
    r = cont[(1, 2)]
    # every 3-gram of the short doc appears in the long doc
    assert r.containment_a == 1.0
    assert r.containment_b < 0.2
    assert (1, 3) not in cont and (2, 3) not in cont
    jac = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, k=3, threshold=0.2).collect()}
    assert (1, 2) not in jac, "if Jaccard caught it the blind-spot claim is stale"


def test_containment_probe_matches_pairwise_direction(spark):
    """The one-sided production probe must agree with the exhaustive
    pairwise form on the probe-direction containments: for every
    (probe, corpus) pair the probe reports, containment equals the
    matching direction of containment_pairs on the union."""
    from dagster_etl_spark.operators.dedup import (
        containment_pairs,
        containment_probe,
    )

    short = " ".join(f"w{i}" for i in range(20))
    long = short + " " + " ".join(f"z{i}" for i in range(200))
    corpus = spark.createDataFrame(
        [
            Row(doc_id=2, text=long),
            Row(doc_id=3, text=" ".join(f"q{i}" for i in range(30))),
        ]
    )
    probe = spark.createDataFrame([Row(doc_id=1, text=short)])
    got = {
        (r.probe_id, r.doc_id): r.containment
        for r in containment_probe(probe, corpus, threshold=0.5).collect()
    }
    assert got == {(1, 2): 1.0}
    both = containment_pairs(
        probe.unionByName(corpus), threshold=0.5
    ).collect()
    ref = {(r.id_a, r.id_b): r.containment_a for r in both}
    assert ref[(1, 2)] == got[(1, 2)]


def test_containment_pairs_audit_cap_is_structural(spark):
    """r14 verdict task 2: the exhaustive pairwise form is an AUDIT
    tool — running it over more documents than audit_cap must FAIL at
    execution (not silently plan a corpus x corpus pair join), and the
    error must point the user at containment_probe, the shipped
    one-sided scale path. Building the DataFrame stays job-free (the
    guard is a broadcast 1-row count frame inside the plan, the
    zero-build-job scalar pattern)."""
    from dagster_etl_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"a{i} b{i} c{i} d{i}") for i in range(8)]
    )
    # within the cap: runs (empty result is fine; the rows are unique)
    containment_pairs(docs, audit_cap=8).collect()
    with pytest.raises(Exception) as ei:
        containment_pairs(docs, audit_cap=7).collect()
    assert "containment_probe" in str(ei.value)
    assert "audit" in str(ei.value)


def test_hybrid_rrf_query_budget_is_corpus_independent(spark):
    """r14 verdict task 2, second weak form: the brute-force hybrid's
    query set must be the BOUNDED slice (id % seed_mod == 0 AND
    id < q_id_cap) on both legs — a fixed query budget no matter how
    large the corpus grows, which is what retires the quadratic
    exact-cosine leg. Doubling the corpus beyond the cap must not add
    queries, and every query id must sit under the cap."""
    from dagster_etl_spark.operators.similarity import hybrid_rrf_topk

    def fixtures(n):
        docs = spark.createDataFrame(
            [
                Row(doc_id=i, text=" ".join(f"t{(i + j) % 17}" for j in range(8)))
                for i in range(n)
            ]
        )
        emb = spark.createDataFrame(
            [
                Row(
                    vec_id=i,
                    embedding=[float((i * 7 + d) % 5 - 2) for d in range(4)],
                )
                for i in range(n)
            ]
        )
        return docs, emb

    cap, mod = 30, 10  # query ids {0, 10, 20}: 3 queries, forever
    out_small = hybrid_rrf_topk(
        *fixtures(60), dim=4, seed_mod=mod, q_id_cap=cap
    )
    out_big = hybrid_rrf_topk(
        *fixtures(120), dim=4, seed_mod=mod, q_id_cap=cap
    )
    q_small = {r.query_id for r in out_small.select("query_id").distinct().collect()}
    q_big = {r.query_id for r in out_big.select("query_id").distinct().collect()}
    assert q_small == q_big == {0, 10, 20}
    assert all(q < cap for q in q_big)


def test_incremental_bm25_equals_one_shot(spark):
    """The fifth incremental surface's exactness invariant: tf, df and
    the totals are additive over disjoint slices and quantization
    happens at query time from the summed state, so topk() after three
    id-sliced ingests must equal bm25_topk_docs over the full corpus
    INTEGER-for-integer (not approximately)."""
    from dagster_etl_spark.operators.text import (
        IncrementalBM25Index,
        bm25_topk_docs,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    idx = IncrementalBM25Index(spark, "t_bm25_inc")
    idx.drop()
    for day in range(3):
        idx.ingest(docs.filter(f"doc_id % 3 = {day}"))
    seeds = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
    inc = sorted(
        (r.query_id, r.doc_id, r.score_scaled, r.rank)
        for r in idx.topk(seeds, k=10).collect()
    )
    ref = sorted(
        (r.query_id, r.doc_id, r.score_scaled, r.rank)
        for r in bm25_topk_docs(docs, k=10, seed_mod=97).collect()
    )
    idx.drop()
    assert inc == ref and len(inc) > 0


@pytest.mark.parametrize(
    "n_docs, window, stride",
    [(200, 8, 3), (400, 40, 10), (1100, 200, 50)],
    ids=["le256_terms", "257_to_20k_terms", "over_20k_terms"],
)
def test_incremental_bm25_equals_one_shot_at_every_term_count(
    spark, n_docs, window, stride
):
    """topk has one plan whatever the query batch's term count: over a
    synthetic vocabulary whose seed docs carry <=256, 257-20,000 and
    >20,000 distinct terms, the standing read still equals the one-shot
    bm25_topk_docs integer-for-integer. Doc i holds the terms of the
    window [i*stride, i*stride + window), with its first term repeated
    i % 3 extra times so tf and dl vary; every tenth doc is a seed."""
    from dagster_etl_spark.operators.text import (
        IncrementalBM25Index,
        bm25_topk_docs,
    )

    def text(i):
        terms = [f"w{i * stride + j}" for j in range(window)]
        return " ".join(terms + terms[:1] * (i % 3))

    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(n_docs)], "doc_id BIGINT, text STRING"
    )
    seed_terms = {t for i in range(0, n_docs, 10) for t in text(i).split()}
    # 160, 1,600 and 22,000 distinct seed terms
    assert len(seed_terms) == n_docs // 10 * window
    idx = IncrementalBM25Index(spark, "t_bm25_regime")
    idx.drop()
    try:
        for day in range(3):
            idx.ingest(docs.filter(f"doc_id % 3 = {day}"))
        seeds = docs.filter("doc_id % 10 = 0")
        inc = sorted(
            (r.query_id, r.doc_id, r.score_scaled, r.rank)
            for r in idx.topk(seeds, k=10).collect()
        )
        ref = sorted(
            (r.query_id, r.doc_id, r.score_scaled, r.rank)
            for r in bm25_topk_docs(docs, k=10, seed_mod=10).collect()
        )
    finally:
        idx.drop()
    assert inc == ref and len(inc) > 0


def test_incremental_bm25_probe_plan_and_compact(spark):
    """100 TB posture of the standing BM25 index: (1) the topk probe
    plans NO shuffle on the postings side — the term-bucketed scan's
    HashPartitioning satisfies the join, only the query term set and
    the post-join aggregates exchange; (2) compact() collapses
    append fragmentation on both term-bucketed tables while the next
    query's results stay identical."""
    import re

    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalBM25Index
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    idx = IncrementalBM25Index(spark, "t_bm25_plan")
    idx.drop()
    for day in range(3):
        idx.ingest(docs.filter(F.col("doc_id") % 3 == day))
    seeds = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
    out = idx.topk(seeds, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the postings/df scans must come through bucketed relations with
    # no Exchange between scan and join: every shuffle in the plan is
    # either the query-side term set or a post-join aggregate/window.
    # Empirical budget 5: qt distinct (1) + qt term re-shuffle for its
    # SHUFFLE_HASH pin (1 — the pin replaced the broadcast that
    # flip-flopped at the AQE threshold; the query side GROWS with the
    # corpus, so the shuffle is the at-scale-correct shape) + score
    # agg (1) + window (1) + totals Single (1); the corpus tables
    # contribute ZERO (their bucketing is the join distribution, and
    # both term joins plan as ShuffledHashJoin with the bucketed scan
    # exchange-free).
    n_shuffles = len(re.findall(r"\bExchange (?:hash|range|Single|RoundRobin)", plan))
    assert n_shuffles <= 5, f"probe plans {n_shuffles} shuffles:\n{plan[:2000]}"
    assert "t_bm25_plan_bm25_postings" in plan
    assert "ShuffledHashJoin" in plan
    # term pushdown: each corpus scan feeds a broadcast LEFT SEMI join
    # on the query batch's terms with no Exchange in between, so rows
    # of non-query terms drop before anything shuffles
    lines = plan.splitlines()
    for table in ("_bm25_postings", "_bm25_df"):
        si = next(i for i, l in enumerate(lines) if table in l and "FileScan" in l)
        ji = max(i for i in range(si) if "Join" in lines[i])
        assert re.search(r"BroadcastHashJoin \[term#\d+\], \[term#\d+\], LeftSemi", lines[ji]), (
            f"{table} scan does not feed a term semi-join:\n{plan[:3000]}"
        )
        assert not any("Exchange" in l for l in lines[ji:si]), (table, plan[:3000])
    # the bucketed postings scan reaches the probe join with no Exchange
    pi = next(i for i, l in enumerate(lines) if "_bm25_postings" in l and "FileScan" in l)
    ji = max(i for i in range(pi) if "ShuffledHashJoin" in lines[i])
    assert not any("Exchange" in l for l in lines[ji:pi]), (
        "postings scan shuffles despite term bucketing"
    )
    before = sorted(
        (r.query_id, r.doc_id, r.score_scaled) for r in out.collect()
    )
    report = idx.compact()
    for t, (b, a) in report.items():
        assert a <= b, (t, b, a)
    after = sorted(
        (r.query_id, r.doc_id, r.score_scaled)
        for r in idx.topk(seeds, k=10).collect()
    )
    assert before == after
    idx.drop()


# -- late-r14 operators: surprisal buckets, DSIR, drift TV, hybrid RRF --------


def _py_floor_log2_ratio(num: int, den: int) -> int:
    """Independent reference for xdialect.floor_log2_ratio."""
    if num >= den:
        return (num // den).bit_length() - 1
    m = (den + num - 1) // num  # ceil(den/num)
    return -((m - 1).bit_length())


def _py_tokens(text: str) -> list[str]:
    return [t for t in text.strip().lower().split() if t]


def test_floor_log2_ratio_matches_python_reference(spark):
    import fractions

    import dagster_etl_spark.functions.xdialect as x

    cases = [(n, d) for n in (1, 2, 3, 7, 8, 9, 97, 10**12) for d in (1, 2, 5, 8, 96, 97, 10**6)]
    rows = (
        spark.createDataFrame(cases, "n long, d long")
        .selectExpr("n", "d", f"{x.floor_log2_ratio('n', 'd', x.SPARK)} AS q")
        .collect()
    )
    for r in rows:
        want = _py_floor_log2_ratio(r.n, r.d)
        # and the reference itself is the true floor(log2(n/d))
        f, k = fractions.Fraction(r.n, r.d), 0
        if f >= 1:
            while f >= 2:
                f, k = f / 2, k + 1
        else:
            while f < 1:
                f, k = f * 2, k - 1
        assert want == k and r.q == k, (r.n, r.d, r.q, want, k)


def test_ccnet_surprisal_buckets_reference(spark):
    from dagster_etl_spark.operators.text import (
        SURPRISAL_SCALE,
        ccnet_surprisal_buckets,
    )

    rows = [
        Row(doc_id=1, text="the the the the"),          # all-common -> head
        Row(doc_id=2, text="the the rare1"),
        Row(doc_id=3, text="the rare2 rare3"),
        Row(doc_id=4, text="rare4 rare5 rare6 rare7"),  # all-singleton -> tail
        Row(doc_id=5, text="the the the rare8"),
        Row(doc_id=6, text="   "),                      # empty after trim: excluded
    ]
    out = {r.doc_id: r for r in ccnet_surprisal_buckets(spark.createDataFrame(rows)).collect()}
    assert 6 not in out and len(out) == 5

    toks = {r.doc_id: _py_tokens(r.text) for r in rows if _py_tokens(r.text)}
    ct: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            ct[t] = ct.get(t, 0) + 1
    n_total = sum(ct.values())
    score = {
        i: SURPRISAL_SCALE * sum(_py_floor_log2_ratio(n_total, ct[t]) for t in ts) // len(ts)
        for i, ts in toks.items()
    }
    for i, r in out.items():
        assert r.surprisal_scaled == score[i], (i, r.surprisal_scaled, score[i])
    # threshold-semantics terciles: cutpoints from the cumulative histogram
    n = len(score)
    ordered = sorted(score.values())
    hist: list[tuple[int, int]] = []
    for v in ordered:
        if hist and hist[-1][0] == v:
            hist[-1] = (v, hist[-1][1] + 1)
        else:
            hist.append((v, 1))
    cum, t1, t2 = 0, None, None
    for v, c in hist:
        cum += c
        if t1 is None and cum * 3 >= n:
            t1 = v
        if t2 is None and cum * 3 >= 2 * n:
            t2 = v
    for i, r in out.items():
        want = "head" if score[i] <= t1 else ("middle" if score[i] <= t2 else "tail")
        assert r.bucket == want, (i, r.bucket, want)
    assert out[1].bucket == "head" and out[4].bucket == "tail"


def test_dsir_select_reference(spark):
    import hashlib

    from dagster_etl_spark.operators.text import DSIR_BUCKETS, dsir_select

    rows = [
        # target slice (en): a distinctive bigram signature
        Row(doc_id=1, lang="en", text="alpha beta alpha beta gamma"),
        Row(doc_id=2, lang="en", text="alpha beta delta alpha beta"),
        # candidates: 10 looks like the target, 11 does not, 12 mixed
        Row(doc_id=10, lang="de", text="alpha beta alpha beta"),
        Row(doc_id=11, lang="fr", text="omega psi omega psi omega"),
        Row(doc_id=12, lang="es", text="alpha beta omega psi"),
    ]
    out = {r.doc_id: r for r in dsir_select(spark.createDataFrame(rows), k=2).collect()}

    def fb(bigram: str) -> int:
        return int(hashlib.md5(bigram.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    cand_feats: dict[int, list[int]] = {}
    for r in rows:
        ts = _py_tokens(r.text)
        feats = [fb(f"{a} {b}") for a, b in zip(ts, ts[1:])]
        if r.lang == "en":
            for f in feats:
                ct[f] = ct.get(f, 0) + 1
        else:
            for f in feats:
                cr[f] = cr.get(f, 0) + 1
            cand_feats[r.doc_id] = feats
    t_tot, r_tot = sum(ct.values()), sum(cr.values())
    weight = {
        i: sum(
            _py_floor_log2_ratio(
                (ct.get(f, 0) + 1) * (r_tot + DSIR_BUCKETS),
                (cr[f] + 1) * (t_tot + DSIR_BUCKETS),
            )
            for f in feats
        )
        for i, feats in cand_feats.items()
    }
    # threshold selection: 2nd-largest weight, ties survive
    t_k = sorted(weight.values(), reverse=True)[1]
    want = {i for i, w in weight.items() if w >= t_k}
    assert set(out) == want
    for i in out:
        assert out[i].weight_q == weight[i], (i, out[i].weight_q, weight[i])
    # the target-like candidate must outrank the off-distribution one
    assert weight[10] > weight[11] and 10 in out and 11 not in out


def test_corpus_drift_tv_reference(spark):
    from fractions import Fraction

    from dagster_etl_spark.operators.text import TV_SCALE, corpus_drift_tv

    rows = [
        Row(doc_id=1, lang="en", text="a b c d"),
        Row(doc_id=2, lang="en", text="a a b e"),
        Row(doc_id=3, lang="de", text="a b c d"),
        Row(doc_id=4, lang="de", text="x y z w"),
    ]
    out = {r.slice: r for r in corpus_drift_tv(spark.createDataFrame(rows)).collect()}

    cl: dict[str, dict[str, int]] = {}
    for r in rows:
        d = cl.setdefault(r.lang, {})
        for t in _py_tokens(r.text):
            d[t] = d.get(t, 0) + 1
    vocab = {t for d in cl.values() for t in d}
    ct = {t: sum(d.get(t, 0) for d in cl.values()) for t in vocab}
    n = sum(ct.values())
    for lang, d in cl.items():
        n_l = sum(d.values())
        tv = sum(abs(Fraction(d.get(t, 0), n_l) - Fraction(ct[t], n)) for t in vocab) / 2
        want_scaled = (TV_SCALE * (sum(abs(d.get(t, 0) * n - ct[t] * n_l) for t in vocab))) // (2 * n * n_l)
        got = out[lang]
        assert got.tv_scaled == want_scaled
        # fixed-point floor sits within one grain of the exact rational
        assert abs(Fraction(got.tv_scaled, TV_SCALE) - tv) < Fraction(1, TV_SCALE)
        assert 0 <= got.tv <= 1
        assert got.n_tokens == n_l


def test_hybrid_rrf_fusion_math(spark):
    from dagster_etl_spark.operators.similarity import RRF_K, RRF_SCALE, hybrid_rrf_topk

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    out = hybrid_rrf_topk(docs, emb).toPandas()
    assert len(out) > 0
    for _, r in out.iterrows():
        want = 0
        if r.lex_rank == r.lex_rank and r.lex_rank is not None:  # non-NaN
            want += RRF_SCALE // (RRF_K + int(r.lex_rank))
        if r.sem_rank == r.sem_rank and r.sem_rank is not None:
            want += RRF_SCALE // (RRF_K + int(r.sem_rank))
        assert int(r.rrf_scaled) == want
    for qid, grp in out.groupby("query_id"):
        g = grp.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        # rank order == (rrf_scaled desc, doc_id asc)
        key = list(zip(-g["rrf_scaled"], g["doc_id"]))
        assert key == sorted(key)
        assert len(g) <= 10


# -- IncrementalUnigramLM: the sixth incremental surface ----------------------


def test_incremental_lm_equals_one_shot(spark):
    """Exactness invariant: term counts and totals are additive over
    slices and quantization happens at probe time, so after three
    id-sliced ingests score(full corpus) == ccnet_surprisal_buckets
    and drift(full corpus) == corpus_drift_tv, integer-for-integer."""
    from dagster_etl_spark.operators.text import (
        IncrementalUnigramLM,
        ccnet_surprisal_buckets,
        corpus_drift_tv,
    )
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    lm = IncrementalUnigramLM(spark, "t_ulm_inc")
    lm.drop()
    for day in range(3):
        lm.ingest(docs.filter(f"doc_id % 3 = {day}"))
    inc = sorted(
        (r.doc_id, r.surprisal_scaled, r.bucket) for r in lm.score(docs).collect()
    )
    ref = sorted(
        (r.doc_id, r.surprisal_scaled, r.bucket)
        for r in ccnet_surprisal_buckets(docs).collect()
    )
    assert inc == ref and len(inc) > 0
    dinc = sorted(
        (r.slice, r.n_tokens, r.tv_scaled) for r in lm.drift(docs).collect()
    )
    dref = sorted(
        (r.slice, r.n_tokens, r.tv_scaled) for r in corpus_drift_tv(docs).collect()
    )
    lm.drop()
    assert dinc == dref and len(dinc) > 0


def test_incremental_lm_unseen_probe_and_oov_clamp(spark):
    """Production probe semantics on frames the LM has never seen:
    (1) drift of an unseen feed is exact vs a Python rational model
    (unseen terms carry ct=0); (2) scoring a doc made of only unseen
    tokens hits the OOV clamp blen(N) — strictly above any seen
    singleton's floor(log2 N)."""
    from fractions import Fraction

    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import TV_SCALE, IncrementalUnigramLM

    lm = IncrementalUnigramLM(spark, "t_ulm_probe")
    lm.drop()
    lm.ingest(
        spark.createDataFrame(
            [Row(doc_id=1, text="a a a b"), Row(doc_id=2, text="a b c d")]
        )
    )
    # unseen feed: half known tokens, half novel
    feed = spark.createDataFrame(
        [Row(doc_id=10, lang="xx", text="a zz zz yy")]
    )
    got = {r.slice: r for r in lm.drift(feed, slice_col="lang").collect()}
    # python model: corpus = {a:4, b:2, c:1, d:1} N=8; slice {a:1,zz:2,yy:1} N_l=4
    n, n_l = 8, 4
    present = abs(1 * n - 4 * n_l) + abs(2 * n - 0) + abs(1 * n - 0)
    s_l = 4  # only 'a' is a standing term among slice terms
    want = (TV_SCALE * (present + n_l * (n - s_l))) // (2 * n * n_l)
    assert got["xx"].tv_scaled == want
    assert 0 <= Fraction(got["xx"].tv_scaled, TV_SCALE) <= 1

    oov_doc = spark.createDataFrame([Row(doc_id=20, text="qq rr ss")])
    seen_singleton = spark.createDataFrame([Row(doc_id=21, text="c")])
    oov = lm.score(oov_doc).collect()[0]
    single = lm.score(seen_singleton).collect()[0]
    # blen(8) = 4 > floor(log2 8/1) = 3
    assert oov.surprisal_scaled == 4 * 1_000_000
    assert single.surprisal_scaled == 3 * 1_000_000
    lm.drop()


def test_incremental_lm_probe_plan_and_compact(spark):
    """100 TB posture of the standing LM: the score probe reads the
    counts co-located on their term bucketing (no corpus-side shuffle
    between scan and join), and compact() collapses append
    fragmentation with identical results after."""
    import re

    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.text import IncrementalUnigramLM
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    lm = IncrementalUnigramLM(spark, "t_ulm_plan")
    lm.drop()
    for day in range(3):
        lm.ingest(docs.filter(F.col("doc_id") % 3 == day))
    probe = docs.filter("doc_id % 7 = 0")
    out = lm.score(probe)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # empirical PRINTED budget 12: the pinned per-doc score frame
    # reprints its 3-exchange build (probe tf + totals Single + doc
    # agg) once per consumer branch (main/histogram/n_probe) but
    # executes once; + histogram hash + cutpoint Single + n_probe
    # Single. The counts scan contributes no pre-join exchange.
    n_shuffles = len(re.findall(r"\bExchange (?:hash|range|Single|RoundRobin)", plan))
    assert n_shuffles <= 12, f"probe plans {n_shuffles} shuffles:\n{plan[:2000]}"
    assert "t_ulm_plan_lm_counts" in plan
    # the standing-counts aggregate must be BUCKET-LOCAL: between the
    # first term-keyed HashAggregate and its _lm_counts FileScan there
    # is no Exchange (the bucketed scan satisfies the distribution)
    lines = plan.splitlines()
    start = next(i for i, l in enumerate(lines) if "HashAggregate(keys=[term" in l)
    end = next(
        i for i, l in enumerate(lines[start:], start) if "_lm_counts" in l and "FileScan" in l
    )
    assert not any("Exchange" in l for l in lines[start:end]), (
        "standing-counts aggregate shuffles despite term bucketing:\n"
        + "\n".join(lines[start:end])
    )
    before = sorted(
        (r.doc_id, r.surprisal_scaled, r.bucket) for r in out.collect()
    )
    report = lm.compact()
    for t, (b, a) in report.items():
        assert a <= b, (t, b, a)
    after = sorted(
        (r.doc_id, r.surprisal_scaled, r.bucket)
        for r in lm.score(probe).collect()
    )
    assert before == after
    lm.drop()


def test_bigram_surprisal_buckets_reference(spark):
    from dagster_etl_spark.operators.text import (
        SURPRISAL_SCALE,
        bigram_surprisal_buckets,
    )

    rows = [
        Row(doc_id=1, text="a b a b a b"),   # all common transitions -> head
        Row(doc_id=2, text="a b c"),
        Row(doc_id=3, text="c a b"),
        Row(doc_id=4, text="x y z w"),       # all-novel transitions -> tail
        Row(doc_id=5, text="solo"),          # < 2 tokens: excluded
        Row(doc_id=6, text=""),              # empty: excluded
    ]
    out = {r.doc_id: r for r in bigram_surprisal_buckets(spark.createDataFrame(rows)).collect()}
    assert set(out) == {1, 2, 3, 4}

    toks = {r.doc_id: _py_tokens(r.text) for r in rows}
    bgs = {i: [f"{a} {b}" for a, b in zip(t, t[1:])] for i, t in toks.items() if len(t) >= 2}
    c12: dict[str, int] = {}
    c1: dict[str, int] = {}
    for bs in bgs.values():
        for b in bs:
            c12[b] = c12.get(b, 0) + 1
            w1 = b.split(" ")[0]
            c1[w1] = c1.get(w1, 0) + 1
    vocab = {t for ts in toks.values() for t in ts}
    v = len(vocab)
    score = {
        i: SURPRISAL_SCALE
        * sum(_py_floor_log2_ratio(c1[b.split(" ")[0]] + v, c12[b] + 1) for b in bs)
        // len(bs)
        for i, bs in bgs.items()
    }
    for i, r in out.items():
        assert r.surprisal_scaled == score[i], (i, r.surprisal_scaled, score[i])
        assert r.n_bigrams == len(bgs[i])
    # thresholds: same cumulative-histogram law as the unigram test
    n = len(score)
    cum, t1, t2, prev = 0, None, None, None
    for val in sorted(score.values()):
        if val == prev:
            continue
        cum = sum(1 for w in score.values() if w <= val)
        if t1 is None and cum * 3 >= n:
            t1 = val
        if t2 is None and cum * 3 >= 2 * n:
            t2 = val
        prev = val
    for i, r in out.items():
        want = "head" if score[i] <= t1 else ("middle" if score[i] <= t2 else "tail")
        assert r.bucket == want
    assert out[1].bucket == "head" and out[4].bucket == "tail"


def test_hybrid_rrf_ivf_fusion_and_lex_leg(spark):
    """The IVF-leg hybrid: (1) same RRF arithmetic invariants as the
    exact-leg form; (2) its BM25 leg is IDENTICAL to the exact
    hybrid's (same lex_rank wherever a (query, doc) appears in both
    outputs); (3) the semantic legs agree on most top ranks at fixture
    scale (nprobe=8 of nlist=16 — a recall sanity floor, not equality)."""
    from dagster_etl_spark.operators.similarity import (
        RRF_K,
        RRF_SCALE,
        hybrid_rrf_ivf_topk,
        hybrid_rrf_topk,
    )

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    ivf = hybrid_rrf_ivf_topk(docs, emb).toPandas()
    exact = hybrid_rrf_topk(docs, emb).toPandas()
    assert len(ivf) > 0
    for _, r in ivf.iterrows():
        want = 0
        if r.lex_rank == r.lex_rank and r.lex_rank is not None:
            want += RRF_SCALE // (RRF_K + int(r.lex_rank))
        if r.sem_rank == r.sem_rank and r.sem_rank is not None:
            want += RRF_SCALE // (RRF_K + int(r.sem_rank))
        assert int(r.rrf_scaled) == want
    lex_ivf = {
        (r.query_id, r.doc_id): int(r.lex_rank)
        for _, r in ivf.iterrows() if r.lex_rank == r.lex_rank
    }
    lex_exact = {
        (r.query_id, r.doc_id): int(r.lex_rank)
        for _, r in exact.iterrows() if r.lex_rank == r.lex_rank
    }
    shared = set(lex_ivf) & set(lex_exact)
    assert shared, "hybrids share no lexical hits at fixture scale?"
    assert all(lex_ivf[k] == lex_exact[k] for k in shared)
    sem_ivf = {
        (r.query_id, r.doc_id)
        for _, r in ivf.iterrows() if r.sem_rank == r.sem_rank
    }
    sem_exact = {
        (r.query_id, r.doc_id)
        for _, r in exact.iterrows() if r.sem_rank == r.sem_rank
    }
    if sem_exact:
        recall = len(sem_ivf & sem_exact) / len(sem_exact)
        assert recall >= 0.3, f"IVF-leg recall collapsed: {recall:.2f}"


def test_incremental_dsir_equals_one_shot_and_scores_unseen(spark):
    """Seventh incremental surface: (1) after three id-sliced ingests,
    select(full corpus) == dsir_select integer-for-integer; (2) a
    NEVER-ingested candidate frame scores against the standing model
    with add-one smoothing pricing unknown features (target-like
    candidate outranks the off-distribution one); (3) compact()
    preserves results."""
    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import IncrementalDSIRModel, dsir_select
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    m = IncrementalDSIRModel(spark, "t_dsir_inc")
    m.drop()
    for day in range(3):
        m.ingest(docs.filter(f"doc_id % 3 = {day}"))
    inc = sorted(
        (r.doc_id, r.n_features, r.weight_q) for r in m.select(docs).collect()
    )
    ref = sorted(
        (r.doc_id, r.n_features, r.weight_q) for r in dsir_select(docs).collect()
    )
    assert inc == ref and len(inc) > 0

    # never-ingested candidates score EXACTLY per the standing counts
    # + add-one smoothing (novel features carry ct=cr=0 through the
    # left join and are priced at the (R+B)/(T+B) prior — DSIR's
    # documented OOD behavior, not an error)
    import hashlib

    from dagster_etl_spark.operators.text import DSIR_BUCKETS

    unseen_rows = [
        Row(doc_id=900001, lang="de", text="key agg row scan slow fast"),
        Row(doc_id=900002, lang="fr", text="zzq wwq vvq uuq ttq ssq"),
    ]
    got = {
        r.doc_id: r.weight_q
        for r in m.select(spark.createDataFrame(unseen_rows), k=2).collect()
    }

    def fb(bg: str) -> int:
        return int(hashlib.md5(bg.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for row in docs.select("lang", "text").collect():
        ts = [t for t in row.text.strip().lower().split() if t]
        for a, b in zip(ts, ts[1:]):
            d = ct if row.lang == "en" else cr
            f = fb(f"{a} {b}")
            d[f] = d.get(f, 0) + 1
    t_tot, r_tot = sum(ct.values()), sum(cr.values())
    for row in unseen_rows:
        ts = [t for t in row.text.strip().lower().split() if t]
        want = sum(
            _py_floor_log2_ratio(
                (ct.get(fb(f"{a} {b}"), 0) + 1) * (r_tot + DSIR_BUCKETS),
                (cr.get(fb(f"{a} {b}"), 0) + 1) * (t_tot + DSIR_BUCKETS),
            )
            for a, b in zip(ts, ts[1:])
        )
        assert got[row.doc_id] == want, (row.doc_id, got[row.doc_id], want)

    before = inc
    report = m.compact()
    for t, (b, a) in report.items():
        assert a <= b
    after = sorted(
        (r.doc_id, r.n_features, r.weight_q) for r in m.select(docs).collect()
    )
    m.drop()
    assert before == after


def test_kn_continuation_demotes_single_context_words(spark):
    """The Kneser-Ney insight, tested directly: two second-words with
    the SAME bigram and prefix counts, but one ('francisco') only ever
    follows a single prefix while the other ('house') follows many —
    KN's continuation probability must price the single-context word
    strictly higher in surprisal when both appear after a novel-ish
    shared prefix at equal raw counts."""
    from dagster_etl_spark.operators.text import (
        KN_DISCOUNT,
        kn_bigram_surprisal,
    )

    # corpus built so c12('x francisco') == c12('x house') and
    # c1/n1p of 'x' are shared, but ncont(francisco)=1 vs ncont(house)=4
    rows = [
        Row(doc_id=1, text="x francisco"),
        Row(doc_id=2, text="x house"),
        Row(doc_id=3, text="a house b house c house"),
        Row(doc_id=4, text="san francisco san francisco"),
    ]
    out = {
        r.doc_id: r.surprisal_scaled
        for r in kn_bigram_surprisal(spark.createDataFrame(rows)).collect()
    }
    # doc 1 = the bigram 'x francisco', doc 2 = 'x house' — same raw
    # counts, different continuation counts: francisco must surprise more
    assert out[1] >= out[2]
    # and strictly in the exact rational (pre-quantization) sense:
    # recompute the exact fractions to show the >= above isn't vacuous
    dn, dd = KN_DISCOUNT
    # corpus bigrams: (x,francisco) (x,house) (a,house) (house,b)
    # (b,house) (house,c) (c,house) (san,francisco) (francisco,san)
    # (san,francisco)  -> nbi distinct = 9
    nbi = 9
    # ncont: francisco follows {x, san} = 2; house follows {x,a,b,c} = 4
    def p(c12, c1, n1p, ncont):
        return ((dd * c12 - dn) * nbi + dn * n1p * ncont) / (dd * c1 * nbi)
    p_francisco = p(1, 2, 2, 2)   # c1('x')=2, n1p('x')=2
    p_house = p(1, 2, 2, 4)
    assert p_francisco < p_house  # rarer context -> lower prob -> more surprisal


def test_scrub_benchmark_spans_excises_quote_keeps_doc(spark):
    """The surgical-vs-drop contrast, tested directly: a train doc
    quoting a benchmark question verbatim must survive with exactly
    the quoted span (plus the k-gram windows overlapping it) removed,
    while a clean doc passes through untouched (normalized) — and the
    document-level decontaminate would have dropped the quoting doc
    entirely."""
    from dagster_etl_spark.operators.dedup import scrub_benchmark_spans
    from dagster_etl_spark.operators.scrub import contaminated_ids

    k = 13
    quote = " ".join(f"q{i}" for i in range(k))          # one bench 13-gram
    pre = " ".join(f"a{i}" for i in range(20))
    post = " ".join(f"b{i}" for i in range(20))
    bench = spark.createDataFrame([Row(doc_id=100, text=quote)])
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{pre} {quote} {post}"),
            Row(doc_id=2, text=" ".join(f"c{i}" for i in range(30))),
        ]
    )
    out = {r.doc_id: r for r in scrub_benchmark_spans(train, bench, k=k).collect()}
    # doc 1: the quote (13 tokens, one matching window) excised
    assert out[1].n_spans_removed == 1
    assert out[1].n_removed_tokens == k
    assert out[1].text == f"{pre} {post}"
    # doc 2 untouched
    assert out[2].n_removed_tokens == 0
    assert out[2].text == train.collect()[1].text
    # the doc-level scrubber would have dropped doc 1 wholesale
    dropped = {
        r.doc_id for r in contaminated_ids(train, bench, n=k).collect()
    }
    assert dropped == {1}


def test_dedup_clusters_exact_collapse_is_equivalence_preserving(spark):
    """r18 (r17 verdict task 3): collapsing exact-duplicate groups to
    one representative before MinHash must produce the IDENTICAL
    clustering — identical texts always pair at Jaccard 1.0, so the
    contraction only removes the quadratic clique edges. Pin the
    equivalence on a corpus engineered with the tricky shapes: a
    3-doc exact group, an exact group bridged to a near-dup, identical
    SHORT docs (below the shingle-eligibility filter — must stay
    separate singletons), and plain singletons."""
    from pyspark.sql import Row

    from dagster_etl_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and once"
    rows = [
        Row(doc_id=1, text=base),          # exact group {1, 4, 7}
        Row(doc_id=2, text="aa bb"),       # short (< k tokens), identical to 5
        Row(doc_id=3, text="totally unrelated content words here"),
        Row(doc_id=4, text=base),
        Row(doc_id=5, text="aa bb"),       # must NOT merge with 2
        Row(doc_id=6, text=near),          # near-dup bridge to the group
        Row(doc_id=7, text=base),
    ]
    df = spark.createDataFrame(rows)
    kw = dict(text_col="text", id_col="doc_id", threshold=0.5)
    with_collapse = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup_clusters(df, collapse_exact=True, **kw).collect()
    }
    without = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup_clusters(df, collapse_exact=False, **kw).collect()
    }
    assert with_collapse == without
    labels = {d: c for d, c, _ in with_collapse}
    assert labels[1] == labels[4] == labels[7] == 1  # exact group
    assert labels[6] == 1  # near-dup joined the group's component
    assert labels[2] == 2 and labels[5] == 5  # short identicals separate
    assert labels[3] == 3
