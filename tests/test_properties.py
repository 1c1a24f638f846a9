"""Property-based tests (hypothesis): invariants that must hold for
arbitrary frames, not just fixtures — upsert idempotency/convergence,
coercive schema apply, validator counts vs hand computation, and
dedup canonicalization.

Frames are kept tiny (Spark round-trip per example is the cost); the
value is the input-space coverage: null keys, duplicate keys, empty
frames, unicode text.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# one Spark action per example → keep examples few and frames small
SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def nsort(tuples):
    """None-safe deterministic ordering of row tuples."""
    return sorted(
        tuples, key=lambda t: tuple((v is None, v if v is not None else 0) for v in t)
    )

keys = st.one_of(st.none(), st.integers(min_value=0, max_value=4))
vals = st.integers(min_value=-100, max_value=100)
rows = st.lists(st.tuples(keys, keys, vals), min_size=0, max_size=12)


@given(target=rows, source=rows)
@settings(**SETTINGS)
def test_upsert_plan_properties(spark, target, source):
    """For any target/source (incl. NULL and duplicate keys):
    1. every source row appears in the result (delete-then-insert);
    2. target rows with unmatched keys survive untouched;
    3. applying the same source twice converges (idempotent)."""
    from dagster_etl_spark.writers.upsert import upsert_keys_plan

    schema = "k1 int, k2 int, v int"
    tgt = spark.createDataFrame(target, schema=schema)
    src = spark.createDataFrame(source, schema=schema)
    merged = upsert_keys_plan(tgt, src, ["k1", "k2"]).collect()
    merged_set = nsort(map(tuple, merged))

    src_keys = {(r[0], r[1]) for r in source}
    expected = nsort(
        [tuple(r) for r in target if (r[0], r[1]) not in src_keys]
        + [tuple(r) for r in source]
    )
    assert merged_set == expected

    twice = upsert_keys_plan(
        spark.createDataFrame(merged, schema=schema), src, ["k1", "k2"]
    ).collect()
    assert nsort(map(tuple, twice)) == merged_set


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Zs"), max_codepoint=0x24F),
            max_size=30,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_exact_dedup_properties(spark, texts):
    """Canonical ids partition the corpus: every doc maps to exactly one
    canonical via normalized-text equality, n_copies sums to N."""
    from dagster_etl_spark.operators.dedup import exact_dedup_stats

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    stats = exact_dedup_stats(df).collect()
    assert sum(r.n_copies for r in stats) == len(texts)
    norm = {}
    for i, t in enumerate(texts):
        # model Spark/DuckDB trim(): ASCII space ONLY — Python's bare
        # strip() also removes tabs/newlines/unicode whitespace (\xa0),
        # which the engines (consistently with each other) do not
        norm.setdefault(t.strip(" ").lower(), []).append(i)
    assert {r.canonical_id for r in stats} == {min(v) for v in norm.values()}


@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-50, 50)), min_size=0, max_size=15
    ),
    lo=st.integers(-10, 0),
    hi=st.integers(1, 10),
)
@settings(**SETTINGS)
def test_validator_range_counts(spark, vals, lo, hi):
    from dagster_etl_spark.validation import DataValidator

    df = spark.createDataFrame([(v,) for v in vals], schema="x int")
    report = DataValidator(df).check_not_null("x").check_range("x", lo, hi).validate()
    by_rule = {r.rule: r for r in report.results}
    assert by_rule["not_null"].failed_count == sum(v is None for v in vals)
    assert by_rule["range"].failed_count == sum(
        v is not None and not (lo <= v <= hi) for v in vals
    )


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=1, max_size=10
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000), st.integers(-99, 99)),
        min_size=0,
        max_size=10,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """Differential oracle: the union+window as-of join must agree with
    pandas.merge_asof (backward direction, by-key) on arbitrary frames."""
    import pandas as pd

    from dagster_etl_spark.operators.temporal import asof_join

    from pyspark.sql import functions as F

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, ts int, lid int"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    rdf = spark.createDataFrame(right, "k int, ts int, val int").withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    # duplicate right (k, ts) rows make the match ambiguous: Spark's
    # last-by-window and pandas' positional pick may legally differ —
    # collapse to one row per (k, ts) keeping max val (deterministic)
    rdf = rdf.groupBy("k", "ts").agg(F.max("val").alias("val"))

    got = {
        r.lid: r.val_asof
        for r in asof_join(ldf, rdf, keys=["k"], right_vals=["val"]).collect()
    }

    lp = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], columns=["k", "ts", "lid"]
    ).sort_values(["ts", "lid"])
    rp = (
        pd.DataFrame(right, columns=["k", "ts", "val"])
        .groupby(["k", "ts"], as_index=False)["val"]
        .max()
        .sort_values("ts")
    )
    if rp.empty:
        expected = {lid: None for lid in lp.lid}
    else:
        m = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        expected = {
            int(r.lid): (None if pd.isna(r.val) else int(r.val))
            for r in m.itertuples()
        }
    assert got == expected


money_cents = st.integers(min_value=-10**12, max_value=10**12)  # exact 2dp doubles
money_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), money_cents),
    min_size=1, max_size=14,
)


@given(data=money_rows)
@settings(**SETTINGS)
def test_money_sum_matches_exact_decimal_arithmetic(spark, data):
    """For any 2-decimal money values (incl. negatives), the fixed-point
    BIGINT sum must equal the exact Decimal-computed python sum — and be
    independent of partitioning."""
    from decimal import Decimal

    from pyspark.sql import Row, functions as F

    from dagster_etl_spark.functions import money_sum

    df = spark.createDataFrame(
        [Row(k=k, v=cents / 100.0) for k, cents in data]
    ).repartition(3)
    got = {r.k: r.s for r in df.groupBy("k").agg(money_sum("v", "s")).collect()}
    want: dict[int, Decimal] = {}
    for k, cents in data:
        # the double nearest cents/100, re-rounded to cents — what the
        # operator is contractually summing
        want[k] = want.get(k, Decimal(0)) + Decimal(round(cents / 100.0 * 100))
    for k, total in want.items():
        assert got[k] == float(total) / 100.0, (k, got[k], total)


unique_rows = st.dictionaries(
    st.integers(min_value=0, max_value=15),
    st.tuples(st.one_of(st.none(), st.text(max_size=4)), vals),
    min_size=0, max_size=10,
)


@given(left=unique_rows, right=unique_rows)
@settings(**SETTINGS)
def test_table_diff_matches_dict_diff(spark, left, right):
    """For arbitrary keyed tables (incl. NULL values and unicode),
    table_diff reports exactly the keys where the sides disagree, with
    the right status."""
    from dagster_etl_spark.operators.reconcile import table_diff

    schema = "id int, s string, v int"
    l = spark.createDataFrame([(k, *v) for k, v in left.items()], schema=schema)
    r = spark.createDataFrame([(k, *v) for k, v in right.items()], schema=schema)
    got = {row.id: row.status for row in table_diff(l, r, ["id"]).collect()}
    want = {}
    for k in set(left) | set(right):
        if k not in right:
            want[k] = "missing_right"
        elif k not in left:
            want[k] = "missing_left"
        elif left[k] != right[k]:
            want[k] = "different"
    assert got == want


# -- connected components vs a union-find model -------------------------------

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=1,
    max_size=60,
)


def _union_find_components(edges):
    """Model: classic union-find; component label = min node id."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    groups = {}
    for node in list(parent):
        groups.setdefault(find(node), set()).add(node)
    return {node: min(members) for members in groups.values() for node in members}


@given(edges=edge_lists)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """The iterative min-label propagation (localCheckpoint lineage
    truncation included) must agree with a union-find model on random
    graphs — self-loops, duplicate and reversed edges included."""
    from dagster_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, max_iter=40).collect()
    }
    assert got == _union_find_components(edges)


def test_connected_components_large_random_graph(spark):
    """One ~1k-edge seeded graph (long path chains + dense pockets +
    isolated pairs) — exercises multi-round convergence and the
    checkpoint cadence, validated against the same union-find model."""
    import random

    rng = random.Random(42)
    edges = [(i, i + 1) for i in range(0, 200)]  # one long chain
    edges += [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(400)]
    edges += [(1000 + 2 * i, 1001 + 2 * i) for i in range(200)]  # isolated pairs
    edges += [(rng.randrange(0, 1500), rng.randrange(0, 1500)) for _ in range(200)]
    from dagster_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _union_find_components(edges)
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, max_iter=60).collect()
    }
    assert got == want


# -- Morton interleave vs a bit-twiddling model -------------------------------

@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(**SETTINGS)
def test_zvalue_expr_matches_python_interleave(spark, pairs):
    """The JVM bit-expression Morton code must equal a direct Python
    interleave (bit i of column j at position i*n+j) — and therefore be
    injective over distinct bucket pairs."""
    from dagster_etl_spark.plans.layout import zvalue_expr

    def model(a, b, bits=8):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        (r.a, r.b): r.z
        for r in df.withColumn("z", zvalue_expr(["a", "b"], bits=8)).collect()
    }
    want = {(a, b): model(a, b) for a, b in pairs}
    assert got == want
    assert len(set(got.values())) == len(pairs)  # injective


# -- dedup_lines vs a pure-Python model ---------------------------------------

line_token = st.sampled_from(["shared", "nav", "alpha", "beta", "gamma", ""])
doc_lines = st.lists(
    st.lists(line_token, min_size=0, max_size=3).map(lambda t: " ".join(t)),
    min_size=1,
    max_size=5,
)


@given(corpus=st.lists(doc_lines, min_size=1, max_size=6), min_docs=st.integers(2, 3))
@settings(**SETTINGS)
def test_dedup_lines_matches_python_model(spark, corpus, min_docs):
    """For arbitrary small corpora (shared lines, blank lines, repeated
    lines within one doc): the operator must equal a direct Python
    implementation of the spec — count DISTINCT docs per normalized
    non-blank line, drop lines at or above the gate, rebuild in order."""
    from collections import defaultdict

    from pyspark.sql import Row

    from dagster_etl_spark.operators.dedup import dedup_lines

    docs = {i: lines for i, lines in enumerate(corpus)}
    freq = defaultdict(set)
    for i, lines in docs.items():
        for ln in lines:
            if ln.strip():
                freq[ln.strip().lower()].add(i)
    boiler = {k for k, d in freq.items() if len(d) >= min_docs}
    want = {}
    for i, lines in docs.items():
        kept = [ln for ln in lines if ln.strip().lower() not in boiler]
        dropped = len(lines) - len(kept)
        want[i] = ("\n".join(kept), len(lines), dropped)

    df = spark.createDataFrame(
        [Row(doc_id=i, text="\n".join(lines)) for i, lines in docs.items()]
    )
    got = {
        r.doc_id: (r.text, r.n_lines, r.n_dropped)
        for r in dedup_lines(df, min_docs=min_docs).collect()
    }
    assert got == want


# -- cluster_survivors invariants ---------------------------------------------

surv_texts = st.lists(
    st.sampled_from(
        [
            "alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "alpha beta gamma delta epsilon zeta eta theta iota kappa !!!",
            "one two three four five six seven eight nine ten",
            "unrelated content entirely about spark engines today",
        ]
    ),
    min_size=1,
    max_size=6,
)


@given(texts=surv_texts)
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cluster_survivors_invariants(spark, texts):
    """For any corpus: every document lands in exactly one cluster row's
    accounting (sum n_docs == corpus size), each kept_doc is a member of
    its own cluster, and its score is the cluster max (ties -> min id)."""
    from pyspark.sql import Row

    from dagster_etl_spark.operators.dedup import cluster_survivors, dedup_clusters
    from dagster_etl_spark.operators.text import doc_stats

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    membership = {
        r.doc_id: r.cluster_id for r in dedup_clusters(df, threshold=0.3).collect()
    }
    scores = {r.doc_id: r.quality_score for r in doc_stats(df).collect()}
    out = cluster_survivors(df, threshold=0.3).collect()
    assert sum(r.n_docs for r in out) == len(texts)
    for r in out:
        members = [d for d, c in membership.items() if c == r.cluster_id]
        assert r.kept_doc in members
        best = max(scores[d] for d in members)
        assert r.best_score == best
        assert r.kept_doc == min(d for d in members if scores[d] == best)
        assert r.n_dropped == r.n_docs - 1 == len(members) - 1


words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
)
docs_texts = st.lists(
    st.lists(words, min_size=0, max_size=20).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(corpus=docs_texts, bench=docs_texts)
@settings(**SETTINGS)
def test_contamination_score_matches_python_model(spark, corpus, bench):
    """contamination_score vs a direct python recompute over arbitrary
    small-vocab corpora (n=3 grams keep the docs meaningfully gram-y):
    exact counts, exact ratio, one row per doc, and consistency with
    the binary contaminated_ids rule."""
    from dagster_etl_spark.operators.scrub import (
        contaminated_ids,
        contamination_score,
    )

    n = 3
    cdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id BIGINT, text STRING"
    )
    bdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(bench)], "doc_id BIGINT, text STRING"
    )
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.overlap_ratio)
        for r in contamination_score(cdf, bdf, n=n).collect()
    }

    def grams(t: str) -> set:
        toks = t.split()
        return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    bg = set().union(*(grams(t) for t in bench)) if bench else set()
    assert set(got) == set(range(len(corpus)))
    for i, t in enumerate(corpus):
        g = grams(t)
        ng, nh, ratio = got[i]
        assert ng == len(g)
        assert nh == len(g & bg)
        assert ratio == (nh / ng if ng else 0.0)
    binary = {r.doc_id for r in contaminated_ids(cdf, bdf, n=n).collect()}
    assert binary == {i for i, v in got.items() if v[2] > 0}


@given(corpus=docs_texts, bench=docs_texts)
@settings(**SETTINGS)
def test_bloom_gate_never_under_removes(spark, corpus, bench):
    """The bloom path's structural guarantee on arbitrary inputs: the
    exact-contaminated set is ALWAYS a subset of the bloom-removed set
    (false negatives impossible), and the gate's one-row shape holds
    even for empty/no-overlap corpora."""
    from dagster_etl_spark.operators.scrub import bloom_decontaminate_gate

    n = 3
    cdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id BIGINT, text STRING"
    )
    bdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(bench)], "doc_id BIGINT, text STRING"
    )
    rows = bloom_decontaminate_gate(cdf, bdf, n=n).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.superset_ok
    assert r.n_bloom_removed >= r.n_exact_removed >= 0


# small vocab forces collisions/duplications; words are whole tokens so
# the Python references below can tokenize with .split()
_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_texts = st.lists(
    st.lists(_words, min_size=0, max_size=14).map(" ".join),
    min_size=1,
    max_size=8,
)


def _py_dup_spans(texts: list[str], k: int, min_count: int):
    """Naive single-process ExactSubstr reference: count every k-gram
    across the corpus, union the [pos, pos+k) intervals of duplicated
    ones per doc, remove covered tokens."""
    from collections import Counter

    toks = [t.split() for t in texts]
    grams = Counter()
    for tk in toks:
        for i in range(len(tk) - k + 1):
            grams[tuple(tk[i : i + k])] += 1
    out = []
    for tk in toks:
        covered = set()
        spans = 0
        prev_end = -2  # last covered index; a span is MAXIMAL, so two
        # covered intervals that touch (i == prev_end + 1) are ONE span
        for i in range(len(tk) - k + 1):
            if grams[tuple(tk[i : i + k])] >= min_count:
                if i > prev_end + 1:
                    spans += 1
                covered.update(range(i, i + k))
                prev_end = max(prev_end, i + k - 1)
        kept = [t for j, t in enumerate(tk) if j not in covered]
        out.append((" ".join(kept), len(tk), len(covered), spans))
    return out


@given(texts=_texts)
@settings(**SETTINGS)
def test_dedup_substrings_matches_python_reference(spark, texts):
    """The twin oracle runs the SAME algorithm in DuckDB, so a shared
    algorithmic bug passes both engines; this pins the semantics
    against an independent naive Python implementation instead —
    removal set, span count, and reassembled text, for arbitrary tiny
    corpora over a 5-word vocabulary (maximal duplication pressure,
    including intra-doc repeats and overlapping islands)."""
    from dagster_etl_spark.operators.dedup import dedup_substrings

    k = 2
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed_tokens, r.n_spans_removed)
        for r in dedup_substrings(df, k=k, min_count=2).collect()
    }
    ref = _py_dup_spans(texts, k=k, min_count=2)
    for i, expect in enumerate(ref):
        assert got[i] == expect, (i, texts[i], got[i], expect)


def _py_containment(texts: list[str], k: int, threshold: float):
    def sh(t):
        tk = t.split()
        return {tuple(tk[i : i + k]) for i in range(len(tk) - k + 1)}

    sets = {i: sh(t) for i, t in enumerate(texts) if len(sh(t)) > 0}
    out = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            ca, cb = inter / len(sets[a]), inter / len(sets[b])
            if max(ca, cb) >= threshold:
                out[(a, b)] = (inter, ca, cb)
    return out


@given(texts=_texts)
@settings(**SETTINGS)
def test_containment_matches_python_reference(spark, texts):
    """containment_pairs vs an independent set-arithmetic reference:
    same pair set, same intersection counts, same both-direction
    ratios. The 60-bit shingle hash stands in for shingle identity —
    the property also re-verifies no collision distorts results on
    these inputs."""
    from dagster_etl_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.containment_a, r.containment_b)
        for r in containment_pairs(df, k=2, threshold=0.5).collect()
    }
    assert got == _py_containment(texts, k=2, threshold=0.5)


def _py_bm25(texts: list[str], k: int, seed_mod: int, scale: int):
    from collections import Counter

    toks = [t.split() for t in texts]
    n_docs = len(toks)
    total = sum(len(t) for t in toks)
    if n_docs == 0 or total == 0:
        return {}
    avgdl = total // n_docs
    df = Counter()
    for tk in toks:
        for term in set(tk):
            df[term] += 1
    scores = {}
    for q in range(0, n_docs, seed_mod):
        qterms = set(toks[q])
        for d, tk in enumerate(toks):
            if d == q:
                continue
            tf = Counter(tk)
            s = 0
            for term in qterms:
                if tf[term] == 0:
                    continue
                num = scale * 44 * avgdl * tf[term] * (2 * n_docs - 2 * df[term] + 1)
                den = (2 * df[term] + 1) * (
                    20 * avgdl * tf[term] + 6 * avgdl + 18 * len(tk)
                )
                s += num // den
            if s or qterms & set(tk):
                scores[(q, d)] = s
    # rank per query
    out = {}
    byq: dict = {}
    for (q, d), s in scores.items():
        byq.setdefault(q, []).append((-s, d))
    for q, lst in byq.items():
        for rank, (neg, d) in enumerate(sorted(lst), start=1):
            if rank <= k:
                out[(q, d)] = (-neg, rank)
    return out


@given(texts=_texts)
@settings(**SETTINGS)
def test_bm25_matches_python_reference(spark, texts):
    """bm25_topk_docs vs an independent Python fixed-point BM25 (same
    integer arithmetic, independently derived): identical (query, doc)
    -> (score_scaled, rank) maps for arbitrary tiny corpora, doc 0
    always the seed query (seed_mod=1 makes EVERY doc a query — the
    densest case)."""
    from dagster_etl_spark.operators.text import bm25_topk_docs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = {
        (r.query_id, r.doc_id): (r.score_scaled, r.rank)
        for r in bm25_topk_docs(df, k=10, seed_mod=1).collect()
    }
    ref = _py_bm25(texts, k=10, seed_mod=1, scale=1_000_000)
    assert got == ref, (texts, got, ref)


# -- late-r14 operators: exact floor-log2, surprisal, DSIR, drift TV ----------

_ratio_pairs = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10**15),
        st.integers(min_value=1, max_value=10**15),
    ),
    min_size=1,
    max_size=30,
)


@given(pairs=_ratio_pairs)
@settings(**SETTINGS)
def test_floor_log2_ratio_property(spark, pairs):
    """xdialect.floor_log2_ratio == exact floor(log2(num/den)) for
    arbitrary positive BIGINT pairs, in BOTH engines (one batched
    action per engine per example)."""
    from fractions import Fraction

    import duckdb

    import dagster_etl_spark.functions.xdialect as x
    from tests.test_llm_ops import _py_floor_log2_ratio

    def true_floor_log2(n: int, d: int) -> int:
        f, k = Fraction(n, d), 0
        if f >= 1:
            while f >= 2:
                f, k = f / 2, k + 1
        else:
            while f < 1:
                f, k = f * 2, k - 1
        return k

    want = [true_floor_log2(n, d) for n, d in pairs]
    assert [_py_floor_log2_ratio(n, d) for n, d in pairs] == want

    got_s = (
        spark.createDataFrame(pairs, "n long, d long")
        .selectExpr(f"{x.floor_log2_ratio('n', 'd', x.SPARK)} AS q")
        .collect()
    )
    # createDataFrame preserves order within a local list
    assert [r.q for r in got_s] == want

    con = duckdb.connect()
    got_d = con.execute(
        f"SELECT {x.floor_log2_ratio('n', 'd', x.DUCK)} FROM "
        "(SELECT UNNEST($1) AS n, UNNEST($2) AS d)",
        [[p[0] for p in pairs], [p[1] for p in pairs]],
    ).fetchall()
    assert [r[0] for r in got_d] == want


@given(texts=_texts)
@settings(**SETTINGS)
def test_surprisal_scores_match_python_reference(spark, texts):
    """ccnet_surprisal_buckets vs an independent Python unigram-LM
    model for arbitrary tiny corpora: identical fixed-point scores,
    identical histogram-threshold buckets."""
    from dagster_etl_spark.operators.text import (
        SURPRISAL_SCALE,
        ccnet_surprisal_buckets,
    )
    from tests.test_llm_ops import _py_floor_log2_ratio, _py_tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = {r.doc_id: (r.surprisal_scaled, r.bucket)
           for r in ccnet_surprisal_buckets(df).collect()}

    toks = {i: _py_tokens(t) for i, t in enumerate(texts) if _py_tokens(t)}
    ct: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            ct[t] = ct.get(t, 0) + 1
    n_total = sum(ct.values())
    score = {
        i: SURPRISAL_SCALE
        * sum(_py_floor_log2_ratio(n_total, ct[t]) for t in ts)
        // len(ts)
        for i, ts in toks.items()
    }
    n = len(score)
    cum, t1, t2 = 0, None, None
    prev = None
    for v in sorted(score.values()):
        if v == prev:
            continue
        cum = sum(1 for w in score.values() if w <= v)
        if t1 is None and cum * 3 >= n:
            t1 = v
        if t2 is None and cum * 3 >= 2 * n:
            t2 = v
        prev = v
    want = {
        i: (s, "head" if s <= t1 else ("middle" if s <= t2 else "tail"))
        for i, s in score.items()
    }
    assert got == want, (texts, got, want)


_lang_rows = st.lists(
    st.tuples(
        st.sampled_from(["en", "de", "fr"]),
        st.lists(_words, min_size=0, max_size=10).map(" ".join),
    ),
    min_size=1,
    max_size=8,
)


@given(rows=_lang_rows)
@settings(**SETTINGS)
def test_corpus_drift_tv_property(spark, rows):
    """corpus_drift_tv vs exact rational TV for arbitrary slices:
    fixed-point floor of the true value, within one grain, 0 for a
    slice whose distribution equals the corpus (single-slice corpora),
    and always in [0, 1]."""
    from fractions import Fraction

    from dagster_etl_spark.operators.text import TV_SCALE, corpus_drift_tv
    from tests.test_llm_ops import _py_tokens

    df = spark.createDataFrame(
        [(i, lang, t) for i, (lang, t) in enumerate(rows)],
        schema="doc_id long, lang string, text string",
    )
    got = {r.slice: r for r in corpus_drift_tv(df).collect()}

    cl: dict[str, dict[str, int]] = {}
    for lang, t in rows:
        d = cl.setdefault(lang, {})
        for tok in _py_tokens(t):
            d[tok] = d.get(tok, 0) + 1
    cl = {l: d for l, d in cl.items() if d}  # empty slices carry no tokens
    vocab = {t for d in cl.values() for t in d}
    ct = {t: sum(d.get(t, 0) for d in cl.values()) for t in vocab}
    n = sum(ct.values())
    assert set(got) == set(cl)
    for lang, d in cl.items():
        n_l = sum(d.values())
        num = sum(abs(d.get(t, 0) * n - ct[t] * n_l) for t in vocab)
        assert got[lang].tv_scaled == (TV_SCALE * num) // (2 * n * n_l)
        exact = Fraction(num, 2 * n * n_l)
        assert 0 <= exact <= 1
        assert abs(Fraction(got[lang].tv_scaled, TV_SCALE) - exact) < Fraction(1, TV_SCALE)
        if len(cl) == 1:
            assert got[lang].tv_scaled == 0


_dsir_rows = st.lists(
    st.tuples(
        st.sampled_from(["en", "de", "fr"]),
        st.lists(_words, min_size=0, max_size=10).map(" ".join),
    ),
    min_size=2,
    max_size=8,
)


@given(rows=_dsir_rows, k=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_dsir_select_property(spark, rows, k):
    """dsir_select vs an independent Python DSIR model for arbitrary
    tiny corpora: identical candidate weights, threshold selection
    keeps exactly {weight >= k-th largest} (ties survive)."""
    import hashlib

    from dagster_etl_spark.operators.text import DSIR_BUCKETS, dsir_select
    from tests.test_llm_ops import _py_floor_log2_ratio, _py_tokens

    df = spark.createDataFrame(
        [(i, lang, t) for i, (lang, t) in enumerate(rows)],
        schema="doc_id long, lang string, text string",
    )
    got = {r.doc_id: r.weight_q for r in dsir_select(df, k=k).collect()}

    def fb(bigram: str) -> int:
        return int(hashlib.md5(bigram.encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    feats: dict[int, list[int]] = {}
    for i, (lang, t) in enumerate(rows):
        ts = _py_tokens(t)
        fs = [fb(f"{a} {b}") for a, b in zip(ts, ts[1:])]
        if lang == "en":
            for f in fs:
                ct[f] = ct.get(f, 0) + 1
        else:
            for f in fs:
                cr[f] = cr.get(f, 0) + 1
            if fs:
                feats[i] = fs
    t_tot, r_tot = sum(ct.values()), sum(cr.values())
    weight = {
        i: sum(
            _py_floor_log2_ratio(
                (ct.get(f, 0) + 1) * (r_tot + DSIR_BUCKETS),
                (cr[f] + 1) * (t_tot + DSIR_BUCKETS),
            )
            for f in fs
        )
        for i, fs in feats.items()
    }
    if not weight:
        assert got == {}
        return
    ordered = sorted(weight.values(), reverse=True)
    t_k = ordered[min(k, len(ordered)) - 1] if len(ordered) >= k else None
    want = {i: w for i, w in weight.items() if t_k is None or w >= t_k}
    assert got == want, (rows, k, got, want)


@given(texts=_texts)
@settings(**SETTINGS)
def test_bigram_surprisal_matches_python_reference(spark, texts):
    """bigram_surprisal_buckets vs an independent Python bigram-LM
    model for arbitrary tiny corpora: identical fixed-point scores and
    bigram-position counts (buckets covered by the unigram twin's
    threshold law, same code path)."""
    from dagster_etl_spark.operators.text import (
        SURPRISAL_SCALE,
        bigram_surprisal_buckets,
    )
    from tests.test_llm_ops import _py_floor_log2_ratio, _py_tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = {r.doc_id: (r.surprisal_scaled, r.n_bigrams)
           for r in bigram_surprisal_buckets(df).collect()}

    toks = {i: _py_tokens(t) for i, t in enumerate(texts)}
    bgs = {i: [f"{a} {b}" for a, b in zip(ts, ts[1:])]
           for i, ts in toks.items() if len(ts) >= 2}
    c12: dict[str, int] = {}
    c1: dict[str, int] = {}
    for bs in bgs.values():
        for b in bs:
            c12[b] = c12.get(b, 0) + 1
            c1[b.split(" ")[0]] = c1.get(b.split(" ")[0], 0) + 1
    v = len({t for ts in toks.values() for t in ts})
    want = {
        i: (
            SURPRISAL_SCALE
            * sum(_py_floor_log2_ratio(c1[b.split(" ")[0]] + v, c12[b] + 1) for b in bs)
            // len(bs),
            len(bs),
        )
        for i, bs in bgs.items()
    }
    assert got == want, (texts, got, want)


# -- quality classifier vs a pure-Python model ---------------------------------

qclf_word = st.sampled_from(["the", "zq9", "data", "xx", "of", "corpus", "a"])
qclf_texts = st.lists(
    st.lists(qclf_word, min_size=0, max_size=6).map(lambda t: " ".join(t)),
    min_size=1,
    max_size=8,
)


@given(texts=qclf_texts)
@settings(**SETTINGS)
def test_quality_classifier_matches_python_model(spark, texts):
    """r14 verdict task 3's independence check: the fastText-shape
    scorer must equal a from-scratch Python implementation of the spec
    (hashlib md5 bucketing, integer mean, logit-cutpoint deciles) on
    arbitrary small corpora — including repeated tokens (feature
    multiplicity), single-token docs (no bigrams), and empty docs
    (excluded)."""
    import hashlib

    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import (
        QCLF_BIAS_SCALED,
        QCLF_BIGRAM_MULT,
        QCLF_DECILE_CUTS,
        QCLF_N_BUCKETS,
        QCLF_SIG_SCALE,
        QCLF_W_SCALE,
        quality_classifier_score,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def model(text: str):
        toks = [t for t in text.strip().lower().split() if t]
        # fastText-style bigram composition: word hashed once, bigram
        # bucket derived from the two word buckets (QCLF_BIGRAM_MULT)
        wb = [h60(t) % QCLF_N_BUCKETS for t in toks]
        buckets = wb + [
            (a * QCLF_BIGRAM_MULT + b) % QCLF_N_BUCKETS
            for a, b in zip(wb, wb[1:])
        ]
        if not buckets:
            return None
        sw = sum(
            h60(f"qclf-w{b}") % (2 * QCLF_W_SCALE + 1) for b in buckets
        )
        # all operands non-negative: Python // == Spark DIV == DuckDB //
        logit = (
            (QCLF_SIG_SCALE * sw) // (len(buckets) * QCLF_W_SCALE)
            - QCLF_SIG_SCALE
            + QCLF_BIAS_SCALED
        )
        decile = sum(logit >= c for c in QCLF_DECILE_CUTS)
        return (len(buckets), logit, decile, decile >= 5)

    want = {
        i: m for i, t in enumerate(texts) if (m := model(t)) is not None
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r.doc_id: (r.n_feats, r.logit_scaled, r.prob_decile, r.keep)
        for r in quality_classifier_score(df).collect()
    }
    assert got == want, (texts, got, want)


# -- subword segmentation vs a pure-Python model --------------------------------

subword_word = st.text(alphabet="abez9!", min_size=0, max_size=7)
subword_texts = st.lists(
    st.lists(subword_word, min_size=0, max_size=5).map(lambda t: " ".join(t)),
    min_size=1,
    max_size=6,
)


@given(texts=subword_texts)
@settings(**SETTINGS)
def test_subword_segment_matches_python_model(spark, texts):
    """r14 verdict task 4's independence check: the greedy
    longest-match walk must equal a from-scratch Python implementation
    on arbitrary words — multi-char matches, single-char fallbacks,
    out-of-vocab characters ('!' -> the whole remainder is one [UNK]),
    and empty documents (zero counts, kept)."""
    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import (
        SUBWORD_FP_MOD,
        SUBWORD_MAX_PIECE,
        SUBWORD_VOCAB,
        subword_segment,
    )

    V = set(SUBWORD_VOCAB)

    def walk(wd: str):
        pos, cnt, unk, fp = 1, 0, 0, 0
        L = len(wd)
        while pos <= L:
            m = next(
                (
                    l
                    for l in range(SUBWORD_MAX_PIECE, 0, -1)
                    if pos + l - 1 <= L and wd[pos - 1 : pos - 1 + l] in V
                ),
                None,
            )
            if m is None:
                cnt, unk, pos = cnt + 1, unk + 1, L + 1
                fp = (fp * 31 + L + 1) % SUBWORD_FP_MOD
            else:
                pos, cnt = pos + m, cnt + 1
                fp = (fp * 31 + pos) % SUBWORD_FP_MOD
        return cnt, unk, fp

    def model(text: str):
        words = [w for w in text.strip().lower().split() if w]
        segs = [walk(w) for w in words]
        n_p = sum(s[0] for s in segs)
        return (
            len(words),
            n_p,
            sum(s[1] for s in segs),
            sum(s[2] for s in segs),
            (1000 * n_p) // len(words) if words else 0,
        )

    want = {i: model(t) for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r.doc_id: (
            r.n_words,
            r.n_pieces,
            r.n_unk_words,
            r.seg_fp,
            r.pieces_per_word_x1000,
        )
        for r in subword_segment(df).collect()
    }
    assert got == want, (texts, got, want)


def test_bpe_merge_table_is_bottom_up_consistent():
    """Every multi-char side of a BPE merge must be FORMED by an
    earlier merge — the invariant real BPE training always produces,
    and the one that makes the one-at-a-time leftmost recurrence equal
    classic merge-all-occurrences BPE (a pair created by applying
    merge k can only have rank > k)."""
    from dagster_etl_spark.operators.text import BPE_MERGES

    formed: set[str] = set()
    for i, (a, b) in enumerate(BPE_MERGES):
        for side in (a, b):
            assert len(side) >= 1, f"merge {i + 1} has an empty side"
            assert len(side) == 1 or side in formed, (
                f"merge {i + 1} {a, b}: piece {side!r} is not formed by "
                "an earlier merge"
            )
        formed.add(a + b)
    assert len({f"{a} {b}" for a, b in BPE_MERGES}) == len(BPE_MERGES)


@given(texts=subword_texts)
@settings(**SETTINGS)
def test_bpe_segment_matches_python_model(spark, texts):
    """r15 verdict task 5's independence check: the merge-rank walk
    must equal a from-scratch Python implementation of classic BPE
    (lowest-rank pair first, leftmost occurrence, until no pair is in
    the table) on arbitrary words — including characters outside every
    merge ('!', '9' stay single pieces) and empty documents."""
    import hashlib

    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import (
        BPE_MERGES,
        BPE_RANK_MAX,
        SUBWORD_FP_MOD,
        bpe_segment,
    )

    ranks = {f"{a} {b}": i + 1 for i, (a, b) in enumerate(BPE_MERGES)}

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def walk(wd: str) -> list[str]:
        p = list(wd)
        while len(p) >= 2:
            rs = [
                ranks.get(f"{p[i]} {p[i + 1]}", BPE_RANK_MAX)
                for i in range(len(p) - 1)
            ]
            best = min(rs)
            if best >= BPE_RANK_MAX:
                break
            j = rs.index(best)
            p = p[:j] + [p[j] + p[j + 1]] + p[j + 2 :]
        return p

    def model(text: str):
        words = [w for w in text.strip().lower().split() if w]
        segs = [walk(w) for w in words]
        n_p = sum(len(s) for s in segs)
        return (
            len(words),
            n_p,
            sum(h60(" ".join(s)) % SUBWORD_FP_MOD for s in segs),
            (1000 * n_p) // len(words) if words else 0,
        )

    want = {i: model(t) for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r.doc_id: (r.n_words, r.n_pieces, r.seg_fp, r.pieces_per_word_x1000)
        for r in bpe_segment(df).collect()
    }
    assert got == want, (texts, got, want)


def test_arrow_walks_equal_expression_twins(spark):
    """r19: the tokenizer walks execute as Arrow-batched mapInPandas.
    The subword walk's expression-tree form (still run by registered
    queries) must stay BIT-IDENTICAL to its Arrow twin (values, column
    names, dtypes) on the real fixture corpus, and the BPE budget
    counts must equal ``bpe_segment``'s piece counts — the in-repo
    equivalence gate next to the DuckDB recursive-CTE oracles."""
    import pandas as pd

    from tests.conftest import SF_SMALL

    from dagster_etl_spark.operators.text import (
        bpe_segment,
        bpe_token_counts,
        subword_segment,
        subword_segment_expr_form,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    seg_counts = bpe_segment(docs.select("doc_id", "text")).join(
        docs.select("doc_id", "source"), on="doc_id"
    ).selectExpr("doc_id", "source", "n_pieces AS n_bpe_tokens")
    pairs = [
        ("subword_segment", subword_segment(docs), subword_segment_expr_form(docs)),
        ("bpe_token_counts", bpe_token_counts(docs), seg_counts),
    ]
    for name, new, old in pairs:
        a = new.toPandas().sort_values("doc_id").reset_index(drop=True)
        b = old.toPandas().sort_values("doc_id").reset_index(drop=True)
        assert list(a.columns) == list(b.columns), name
        pd.testing.assert_frame_equal(a, b, check_exact=True), name


@given(texts=qclf_texts)
@settings(**SETTINGS)
def test_lang_classifier_matches_python_model(spark, texts):
    """The multiclass sibling of the quality-classifier check: per-doc
    per-language fixed-point logits, precedence argmax (exact ties go
    to the earlier LANGS entry), and the tie-safe top-two margin must
    equal a from-scratch Python implementation."""
    import hashlib

    from pyspark.sql import Row

    from dagster_etl_spark.operators.text import (
        LANGS,
        QCLF_BIGRAM_MULT,
        QCLF_N_BUCKETS,
        QCLF_SIG_SCALE,
        QCLF_W_SCALE,
        lang_classifier_scores,
    )

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def model(text: str):
        toks = [t for t in text.strip().lower().split() if t]
        wb = [h60(t) % QCLF_N_BUCKETS for t in toks]
        buckets = wb + [
            (a * QCLF_BIGRAM_MULT + b) % QCLF_N_BUCKETS
            for a, b in zip(wb, wb[1:])
        ]
        if not buckets:
            return None
        lgs = []
        for lang in LANGS:
            sw = sum(
                h60(f"langclf-{lang}-{b}") % (2 * QCLF_W_SCALE + 1)
                for b in buckets
            )
            lgs.append(
                (QCLF_SIG_SCALE * sw) // (len(buckets) * QCLF_W_SCALE)
                - QCLF_SIG_SCALE
            )
        pred = max(range(len(LANGS)), key=lambda i: (lgs[i], -i))
        srt = sorted(lgs)
        return (len(buckets), LANGS[pred], srt[-1], srt[-1] - srt[-2])

    want = {
        i: m for i, t in enumerate(texts) if (m := model(t)) is not None
    }
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    got = {
        r.doc_id: (r.n_feats, r.pred_lang, r.best_scaled, r.margin_scaled)
        for r in lang_classifier_scores(df).collect()
    }
    assert got == want, (texts, got, want)


def _py_bench_spans(train: list[str], bench: list[str], k: int):
    """Naive span-decontamination reference: the benchmark's k-gram
    set, then per train doc union the [i, i+k) windows of matching
    k-grams, remove covered tokens (maximal-span counting as in
    _py_dup_spans)."""
    bg = set()
    for t in bench:
        tk = t.split()
        for i in range(len(tk) - k + 1):
            bg.add(tuple(tk[i : i + k]))
    out = []
    for t in train:
        tk = t.split()
        covered = set()
        spans = 0
        prev_end = -2
        for i in range(len(tk) - k + 1):
            if tuple(tk[i : i + k]) in bg:
                if i > prev_end + 1:
                    spans += 1
                covered.update(range(i, i + k))
                prev_end = max(prev_end, i + k - 1)
        kept = [x for j, x in enumerate(tk) if j not in covered]
        out.append((" ".join(kept), len(tk), len(covered), spans))
    return out


@given(
    train=_texts,
    bench=st.lists(
        st.lists(_words, min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=3,
    ),
)
@settings(**SETTINGS)
def test_scrub_benchmark_spans_matches_python_reference(spark, train, bench):
    """scrub_benchmark_spans vs an independent naive reference over the
    5-word collision vocabulary: removal set, maximal-span count, and
    reassembled text — including overlapping matches, repeated bench
    grams, and train docs shorter than k."""
    from dagster_etl_spark.operators.dedup import scrub_benchmark_spans

    k = 2
    tr = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train)], schema="doc_id long, text string"
    )
    be = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(bench)],
        schema="doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed_tokens, r.n_spans_removed)
        for r in scrub_benchmark_spans(tr, be, k=k).collect()
    }
    ref = _py_bench_spans(train, bench, k=k)
    for i, expect in enumerate(ref):
        assert got[i] == expect, (i, train[i], got[i], expect)
