"""Deduplication operators for training-data pipelines: exact dedup,
n-gram Jaccard similarity join, MinHash+LSH near-dup, SimHash banding,
and embedding-cosine near-dup.

Scale design
------------
* **Exact** — one hash-groupBy; the canonical-row pick is a min
  aggregate, no window needed.
* **MinHash** — signatures are computed *per row* with array lambdas
  (``array_min`` over shingle hashes): zero shuffles for signature
  construction, unlike the classic explode→groupBy formulation which
  shuffles every (doc, shingle) pair. Banding then joins only docs
  sharing a band hash — the candidate set, not the cross product.
* **SimHash** — banded the same way; Hamming distance via
  ``bit_count(a ^ b)`` on the join output only.
* **Embedding near-dup** — explicit-chain cosine (see xdialect) over a
  banded or bounded candidate set; the all-pairs form is for oracle
  parity and tests, LSH buckets are the 100 TB path (similarity.py).

All hashing is md5-based so DuckDB oracles reproduce results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dagster_etl_spark.functions import xdialect as x
from dagster_etl_spark.plans.cache import pin, track
from dagster_etl_spark.plans.layout import spread
from dagster_etl_spark.streaming.slicestore import (
    StandingState,
    slice_file_budget,
    union_all,
)


# -- exact dedup -------------------------------------------------------------

def exact_dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical normalized texts: canonical id + copy count."""
    fp = f"md5(trim(lower({text_col})))"
    return (
        df.selectExpr(f"{fp} AS fp", id_col)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id row per identical text (deterministic, no window:
    semi-join on the canonical ids)."""
    canon = exact_dedup_stats(df, text_col, id_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(canon, on=id_col, how="left_semi")


def drop_key_duplicates(
    df: DataFrame, key_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Metadata-keyed dedup — the URL/source-hash stage that opens every
    public corpus pipeline: keep the min-id row per key value. Same
    shape as :func:`drop_exact_duplicates` (one hash-groupBy + semi-join
    on unique ids, no window), keyed on a metadata column instead of
    content. Reference anchor: the reference only VALIDATES key
    uniqueness (duplicate count per column,
    etl/utils/validation.py:72-81); this operator enforces it as a
    first-class dedup step.
    """
    canon = (
        df.groupBy(key_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(canon, on=id_col, how="left_semi")


# -- corpus line dedup (C4-style boilerplate removal) -------------------------

def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """C4-style boilerplate line removal: drop every line whose
    normalized form occurs in >= ``min_docs`` DISTINCT documents, then
    reassemble each document from its surviving lines (original order).

    Returns (id_col, text_col, n_lines, n_dropped) — the rebuilt text
    plus per-document audit counts.

    Scale design: TWO passes over the corpus — a frequency pass
    (explode -> distinct-doc count per normalized line hash) and a
    rebuild pass (explode -> broadcast-join the boilerplate set ->
    reassembly aggregate). The explode is deliberately recomputed in
    the second pass rather than cached: the exploded line table is
    corpus-sized, and at the 100 TB design point re-running a
    projection+explode over columnar parquet is cheaper than
    materializing it (contrast minhash, which pins only slim
    (id, band) scalar rows). The boilerplate set — tiny by
    construction, it holds only lines frequent across documents — is
    broadcast while it fits Spark's threshold; the decision is AQE's,
    made at runtime from actual sizes (r8 — replaces a build-time
    count job, same pattern as :func:`minhash_neardup_pairs`). Blank lines are document
    structure, not boilerplate: they are never counted or dropped.

    ``line_sep`` is a LITERAL separator (it is also what the rebuilt
    text is joined with); it is regex-quoted before hitting ``split``,
    so ``"|"`` or ``"."`` split on the character, not the pattern.

    NULL-text documents drop out of the output (``split(NULL)``
    explodes to nothing) — the same drop-don't-guess convention as
    hash_sample's NULL-id handling; filter-and-union them back if a
    pipeline must preserve them.
    """
    # Pattern.quote-style literal quoting: split() interprets its
    # separator as a Java regex but array_join emits it verbatim, so an
    # unquoted "|" would split-on-anything yet join-with-pipe
    sep_rx = "\\Q" + line_sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_rx)).alias("line_no", "line"),
    )
    fp = "md5(trim(lower(line)))"
    boiler = pin(
        lines.filter("trim(line) <> ''")
        .selectExpr(f"{fp} AS fp", id_col)
        .groupBy("fp")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp")
    )
    # join strategy deferred to AQE (r8, same reasoning as the minhash
    # band join): the build-time boiler.count() paid an eager job per
    # build to approximate what AQE decides at runtime from actual
    # sizes — broadcast the (small by construction) boilerplate set,
    # shuffle join past the threshold
    marked = boiler.withColumn("__boiler", F.lit(True))
    flagged = lines.withColumn("fp", F.expr(fp)).join(marked, on="fp", how="left")
    kept = F.array_sort(
        F.collect_list(
            F.when(F.col("__boiler").isNull(), F.struct("line_no", "line"))
        )
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s["line"]), line_sep).alias(
            text_col
        ),
        F.count(F.lit(1)).alias("n_lines"),
        # count of a nullable column = number of boilerplate instances
        F.count(F.col("__boiler")).alias("n_dropped"),
    )


# -- shingle / MinHash machinery ---------------------------------------------

def shingled(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Shingles in ONE let-bound expression: the token array is a lambda
    argument, so it is materialized once per row no matter how many
    times the shingle body indexes it. (A staged ``_tok`` projection
    does NOT survive Catalyst — CollapseProject inlines it into every
    access, re-running the regex split ~3x per shingle; measured 8x
    slowdown on the MinHash chain at sf0.1.)"""
    expr = x.let(
        x.tokens(text_col, x.SPARK), "_t", x.shingles("_t", k, x.SPARK), x.SPARK
    )
    return df.selectExpr(id_col, f"{expr} AS shingles")


def _affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing, derived from
    md5 so every engine/run agrees. a odd, a,b < 2^30 so
    a*h32 + b < 2^63 never overflows signed 64-bit (ANSI-safe)."""
    import hashlib

    out = []
    for i in range(num_hashes):
        h = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
        a = (int(h[:8], 16) % (1 << 30)) | 1
        b = int(h[8:16], 16) % (1 << 30)
        out.append((a, b))
    return out


def shingle_hashes_expr(shingle_col: str, d: str) -> str:
    """One 60-bit md5 hash per shingle — the ONLY md5 pass; signatures
    derive from it with integer arithmetic."""
    return x.xform(shingle_col, "s", x.h60("s", d), d)


def minhash_signature_exprs(
    hash_col: str, d: str, num_hashes: int = 16
) -> list[str]:
    """sig_i = min over shingle hashes of the i-th affine transform
    (a_i*h32 + b_i) & 0xFFFFFFFF. One md5 pass total instead of
    ``num_hashes`` — at 5k docs x 52 shingles this is the difference
    between 0.3M and 4M md5 evaluations per side."""
    out = []
    for i, (a, b) in enumerate(_affine_constants(num_hashes)):
        body = f"(({a} * (h & 4294967295) + {b}) & 4294967295)"
        out.append(f"{x.xmin(x.xform(hash_col, 'h', body, d), d)} AS sig{i}")
    return out


def band_exprs(d: str, num_hashes: int = 16, bands: int = 4) -> list[str]:
    rows = num_hashes // bands
    out = []
    for b in range(bands):
        cols = [f"sig{b * rows + r}" for r in range(rows)]
        if d == x.SPARK:
            joined = "concat_ws(',', " + ", ".join(cols) + ")"
        else:
            joined = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        out.append(f"md5({joined}) AS band{b}")
    return out


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
) -> DataFrame:
    """MinHash+LSH candidate generation, verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >=
    threshold. Candidates are pairs agreeing on >= 1 of ``bands`` band
    hashes; the exact Jaccard pass removes false positives (false
    negatives are the documented LSH trade-off).
    """
    hashed = minhash_hashes(df, text_col, id_col, k)
    # slim candidate join: one row per (doc, band), ids only — shingle
    # arrays are NOT shuffled through the pair join/dedup.
    # PERSISTED: both sides of the self-join would otherwise re-run the
    # tokenize/shingle/md5/signature chain (Spark has no cross-subtree
    # CSE). The melted rows are persisted — scalars cache an order of
    # magnitude faster than array columns through the columnar store,
    # which is why (id, bkey) rows are cached rather than (id, hs); the
    # verify stage recomputes the (cheap, let-bound) hash chain instead.
    melted = pin(minhash_bands(hashed, id_col, num_hashes, bands))
    # join strategy DEFERRED to AQE (r8): the previous build-time
    # melted.count() paid an eager job — with cold whole-stage-codegen
    # compile of the 16-signature md5 chain, ~6 s per BUILD even on a
    # 500-doc gate corpus — to approximate what AQE decides at runtime
    # from actual byte sizes: broadcast the band table while it is
    # small, shuffle join in the 100 TB regime. Unhinted is both
    # cheaper (zero eager jobs at build) and better-informed.
    return jaccard_verify(
        _self_candidates(melted, id_col), [hashed], [hashed],
        "id_a", "id_b", id_col, threshold,
    )


def _self_candidates(melted: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b), id_a < id_b: doc pairs of one banded corpus
    sharing at least one band key."""
    a, b = melted.alias("a"), melted.alias("b")
    return (
        a.join(b, F.expr(f"a.bkey = b.bkey AND a.`{id_col}` < b.`{id_col}`"))
        .selectExpr(f"a.`{id_col}` AS id_a", f"b.`{id_col}` AS id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_hashes(
    docs: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(doc_id, hs): each doc's distinct shingle-hash set — the
    tokenize+shingle+md5 pass, the heaviest per-row work of the MinHash
    encode and the ONLY md5 pass (signatures derive from hs with
    integer arithmetic, and the exact-Jaccard verify reads hs too; md5
    collisions at 60 bits are negligible). Docs with fewer than ``k``
    tokens have no shingle and are dropped up front: the token-count
    pre-filter is cheap (no md5) and avoids pushdown re-inlining the
    whole shingle+md5 chain into the predicate."""
    tok_n = x.xsize(x.tokens(text_col, x.SPARK), x.SPARK)
    sh = shingled(
        spread(docs).filter(F.expr(f"{tok_n} >= {k}")), text_col, id_col, k
    )
    return sh.selectExpr(
        id_col, f"{x.xform('shingles', 's', x.h60('s', x.SPARK), x.SPARK)} AS hs"
    )


def minhash_bands(
    hashed: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, bkey): one row per (doc, band) from an (doc_id, hs)
    frame — the signature/band/melt tail of the MinHash encode. ONE
    key column (band index folded into the band hash): a probe join on
    it has exactly one equi-key == the standing index's bucket column,
    so the index side's HashPartitioning(bkey) satisfies the join's
    required distribution outright and only the probe shuffles (a
    two-key (band_idx, bh) join over a bh-bucketed table would shuffle
    BOTH sides)."""
    sigs = hashed.selectExpr(
        id_col, *minhash_signature_exprs("hs", x.SPARK, num_hashes)
    )
    banded = sigs.selectExpr(id_col, *band_exprs(x.SPARK, num_hashes, bands))
    band_arr = "array(" + ", ".join(f"band{b}" for b in range(bands)) + ")"
    return banded.selectExpr(
        id_col, f"posexplode({band_arr}) AS (band_idx, bh)"
    ).selectExpr(id_col, "concat(band_idx, ':', bh) AS bkey")


def _join_parts(left: DataFrame, parts: list[DataFrame], on: str) -> DataFrame:
    """``left`` ⋈ (p1 ∪ p2 ∪ ..) on ``on``, evaluated part by part. A
    join distributes over UNION ALL, so the rows are the same; but a
    union reports no output partitioning, so joining it would shuffle
    the whole bucketed base, where joining the base alone reads it
    co-located and shuffles only ``left``."""
    return union_all(*(left.join(p, on=on) for p in parts))


#: Exact Jaccard of two shingle-hash sets.
_JACCARD = (
    "CAST(size(array_intersect(hs_a, hs_b)) AS DOUBLE) / "
    "size(array_distinct(concat(hs_a, hs_b)))"
)


def jaccard_verify(
    cands: DataFrame,
    left_hashes: list[DataFrame],
    right_hashes: list[DataFrame],
    left: str,
    right: str,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of (``left``, ``right``) candidate id pairs
    against the (doc_id, hs) parts of each side, part by part
    (:func:`_join_parts`) — shared by the one-shot near-dup operators
    and :class:`IncrementalNearDupIndex`. Returns (left, right,
    jaccard) with jaccard >= ``threshold``."""

    def side(parts: list[DataFrame], col: str, hs: str) -> list[DataFrame]:
        return [
            p.select(F.col(id_col).alias(col), F.col("hs").alias(hs))
            for p in parts
        ]

    with_a = _join_parts(cands, side(left_hashes, left, "hs_a"), left)
    both = _join_parts(with_a, side(right_hashes, right, "hs_b"), right)
    return (
        both.selectExpr(left, right, f"{_JACCARD} AS jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_estimate_accuracy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
) -> DataFrame:
    """Sketch-accuracy report for the MinHash signatures: on every
    verified near-dup pair, compare the SIGNATURE-estimated Jaccard
    (matching sig positions / num_hashes — the estimator a 100 TB
    pipeline would use to score pairs without re-reading text) against
    the exact shingle-set Jaccard the verify stage computes anyway.

    Same family as approx_distinct_gate: the sketch's error is
    measured in-query, in exact arithmetic — est = m/16 is an exact
    binary double, exact Jaccard is one int division, and the output
    is integer COUNTS of pairs inside error bands (|err| <= 0.25 is
    the 2-sigma band at 16 hashes; > 0.5 would be 4-sigma — estimator
    machinery broken, not sampling noise).

    Returns ONE row ``(n_pairs, n_within_025, n_above_05)`` — a
    DuckDB oracle recomputes every stage bit-for-bit.
    """
    hashed = minhash_hashes(df, text_col, id_col, k)
    sigs = hashed.selectExpr(
        id_col, *minhash_signature_exprs("hs", x.SPARK, num_hashes)
    )
    melted = pin(minhash_bands(hashed, id_col, num_hashes, bands))
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"sig{i}").alias(f"sa{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"sig{i}").alias(f"sb{i}") for i in range(num_hashes)],
    )
    m = " + ".join(
        f"(CASE WHEN sa{i} = sb{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    pairs = (
        jaccard_verify(
            _self_candidates(melted, id_col), [hashed], [hashed],
            "id_a", "id_b", id_col, threshold,
        )
        .join(sa, on="id_a")
        .join(sb, on="id_b")
        .selectExpr(
            "id_a",
            "id_b",
            "jaccard",
            f"CAST(({m}) AS DOUBLE) / {num_hashes} AS est",
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.expr("abs(est - jaccard) <= 0.25"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_within_025"),
        F.coalesce(
            F.sum(F.when(F.expr("abs(est - jaccard) > 0.5"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_above_05"),
    )


def cross_corpus_neardup_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.2,
) -> DataFrame:
    """Near-dups BETWEEN two corpora — the train-vs-eval dedup step
    (remove training docs that near-duplicate held-out/benchmark
    docs), which the self-join form can't express: candidates must
    pair one doc from each side, never two from the same side.

    Same MinHash(16)+LSH(4 bands) machinery as
    :func:`minhash_neardup_pairs` (one md5 pass, banded candidate
    join, exact-Jaccard verify), but the band join is LEFT-banded ⋈
    RIGHT-banded — at 100 TB the right side (a benchmark/eval set) is
    typically small, so AQE broadcasts its band table and the left
    corpus never shuffles for candidate generation; the verify join
    touches candidates only.

    Returns (left_id, right_id, jaccard) with jaccard >= threshold.
    Ids may coincide across corpora (different tables); no id
    ordering is imposed between sides.
    """
    l_hashed = minhash_hashes(left, text_col, id_col, k)
    r_hashed = minhash_hashes(right, text_col, id_col, k)
    a = pin(minhash_bands(l_hashed, id_col, num_hashes, bands)).alias("a")
    b = pin(minhash_bands(r_hashed, id_col, num_hashes, bands)).alias("b")
    cands = (
        a.join(b, F.col("a.bkey") == F.col("b.bkey"))
        .select(
            F.col(f"a.{id_col}").alias("left_id"),
            F.col(f"b.{id_col}").alias("right_id"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    return jaccard_verify(
        cands, [l_hashed], [r_hashed], "left_id", "right_id", id_col, threshold
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exhaustive n-gram Jaccard similarity join (ground truth for the
    LSH variant): explode shingles, join on shingle, count
    intersections, compute |A∩B| / (|A| + |B| - |A∩B|)."""
    tok_n = x.xsize(x.tokens(text_col, x.SPARK), x.SPARK)
    sh = shingled(
        spread(df).filter(F.expr(f"{tok_n} >= {k}")), text_col, id_col, k
    )
    # join/shuffle on 60-bit shingle hashes, not shingle strings: 8-byte
    # keys through the exchange instead of ~20-byte text; the exploded
    # scalar rows are persisted so both self-join sides scan the
    # materialized explode (scalars cache fast; arrays don't)
    hashed = sh.selectExpr(
        id_col, f"{x.xform('shingles', 's', x.h60('s', x.SPARK), x.SPARK)} AS hs"
    )
    sized = hashed.selectExpr(id_col, "hs", "size(hs) AS n_sh")
    ex = pin(sized.select(id_col, "n_sh", F.explode("hs").alias("s")))
    a = ex.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"), "s"
    )
    b = ex.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"), "s"
    )
    inter = (
        a.join(b, on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.selectExpr(
            "id_a",
            "id_b",
            "CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


#: containment_pairs is an AUDIT tool (exhaustive shared-shingle
#: pairwise join, measured >2x the single-process baseline at every
#: probed scale); this cap makes that framing STRUCTURAL — pointing a
#: corpus at it fails fast with a pointer at the deployment path.
CONTAINMENT_AUDIT_CAP = 1_000_000


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    audit_cap: int = CONTAINMENT_AUDIT_CAP,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT join (Broder 1997's second
    resemblance measure): ``C(A,B) = |S(A) n S(B)| / |S(A)|`` — the
    doc-in-doc detector that symmetric Jaccard structurally misses (a
    50-token license block fully embedded in a 5,000-token page has
    Jaccard ~0.01 but containment 1.0; quote-heavy and
    boilerplate-wrapped training documents are exactly this shape).
    Reports each unordered candidate pair once with BOTH directions
    (containment_a = inter/|S(A)|, containment_b = inter/|S(B)|),
    kept when either direction clears ``threshold``.

    AUDIT TOOL, NOT A DEPLOYMENT PATH (r14 verdict task 2): the
    exhaustive pairwise form exists to validate :func:`containment_probe`
    and to sweep bounded corpora; banding cannot speed it up without
    dropping exactly the high-containment/low-Jaccard pairs it exists
    to find, so its cost IS the shared-shingle pair volume. The
    ``audit_cap`` guard is enforced INSIDE the plan (a broadcast 1-row
    count frame checked with ``assert_true`` — the repo's zero-build-
    job scalar pattern, so building the DataFrame still launches no
    jobs): running it over more than ``audit_cap`` input documents
    fails at execution with a pointer at :func:`containment_probe`,
    the one-sided O(corpus + matches) production shape.

    Scale shape (within the cap): identical to
    :func:`ngram_jaccard_pairs` — the equi-join on the 60-bit shingle
    hash IS the candidate generator (only pairs sharing at least one
    shingle are ever grouped; never all-pairs), the exploded scalar
    rows are pinned once for both self-join sides, and the divisions
    are two exact int-over-int doubles at the very end.
    """
    tok_n = x.xsize(x.tokens(text_col, x.SPARK), x.SPARK)
    guard = df.agg(
        F.assert_true(
            F.count(F.lit(1)) <= F.lit(audit_cap),
            F.concat(
                F.lit(
                    "containment_pairs is an audit tool capped at "
                    f"{audit_cap} input documents; for corpus-scale "
                    "doc-in-doc detection use containment_probe "
                    "(one-sided, O(corpus + matches)) — got "
                ),
                F.count(F.lit(1)).cast("string"),
            ),
        ).alias("_audit_ok")
    )
    sh = shingled(
        spread(df).filter(F.expr(f"{tok_n} >= {k}")), text_col, id_col, k
    )
    hashed = sh.selectExpr(
        id_col, f"{x.xform('shingles', 's', x.h60('s', x.SPARK), x.SPARK)} AS hs"
    )
    sized = hashed.selectExpr(id_col, "hs", "size(hs) AS n_sh")
    ex = pin(
        sized.select(id_col, "n_sh", F.explode("hs").alias("s"))
        .crossJoin(F.broadcast(guard))
        # assert_true yields NULL on success (and raises on breach), so
        # this filter passes every row while keeping the guard column
        # referenced — column pruning cannot drop the assertion
        .filter(F.col("_audit_ok").isNull())
        .drop("_audit_ok")
    )
    a = ex.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"), "s"
    )
    b = ex.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"), "s"
    )
    inter = (
        a.join(b, on="s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.selectExpr(
            "id_a",
            "id_b",
            "n_inter",
            "CAST(n_inter AS DOUBLE) / na AS containment_a",
            "CAST(n_inter AS DOUBLE) / nb AS containment_b",
        )
        .filter(
            F.expr(
                f"GREATEST(CAST(n_inter AS DOUBLE) / na, "
                f"CAST(n_inter AS DOUBLE) / nb) >= {threshold!r}"
            )
        )
    )


def containment_probe(
    probe: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """One-sided containment — the PRODUCTION shape of
    :func:`containment_pairs`: how much of each (small) ``probe``
    document is contained in each corpus document. This is the
    license-block / benchmark-prompt / boilerplate-template scrub: the
    probe side is a bounded reference set, the corpus side is the
    100 TB crawl, and the only rows ever grouped are (probe, corpus)
    pairs sharing at least one shingle. The corpus is tokenized ONCE
    and never self-joined — cost is O(corpus + matches), not
    O(pairs-sharing-a-shingle^2); the exhaustive self-join form stays
    the audit tool (SCALETREND_LLM_r14 measures it at 2.5x
    single-process — verification-grade, not the deployment path).

    Returns (probe_id, doc_id, n_inter, containment) where containment
    = |S(probe) n S(doc)| / |S(probe)| >= threshold.
    """
    tok_n = x.xsize(x.tokens(text_col, x.SPARK), x.SPARK)

    def _ex(df: DataFrame, out_id: str, out_n: str):
        sh = shingled(
            spread(df).filter(F.expr(f"{tok_n} >= {k}")), text_col, id_col, k
        )
        hashed = sh.selectExpr(
            id_col,
            f"{x.xform('shingles', 's', x.h60('s', x.SPARK), x.SPARK)} AS hs",
        )
        return hashed.selectExpr(
            f"{id_col} AS {out_id}", f"size(hs) AS {out_n}", "hs"
        ).select(out_id, out_n, F.explode("hs").alias("s"))

    p = _ex(probe, "probe_id", "np")
    c = _ex(corpus, "corpus_doc_id", "nc").drop("nc")
    inter = (
        c.join(p, on="s")
        .filter(F.col("probe_id") != F.col("corpus_doc_id"))
        .groupBy("probe_id", "corpus_doc_id", "np")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return inter.selectExpr(
        "probe_id",
        f"corpus_doc_id AS {id_col}",
        "n_inter",
        "CAST(n_inter AS DOUBLE) / np AS containment",
    ).filter(F.col("containment") >= threshold)


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplicate detection (the ExactSubstr idea of
    Lee et al., *Deduplicating Training Data Makes Language Models
    Better*, ACL 2022, approximated at fixed token grain): a k-token
    shingle is *duplicated* when its exact text occurs >= ``min_count``
    times across the WHOLE corpus — intra- or inter-document. Reports
    per document how many shingle positions are duplicated and how
    many tokens the union of their ``[pos, pos+k)`` spans covers
    (interval union via the sorted-gap identity:
    ``k + sum(min(k, pos_i - pos_{i-1}))``), the number a filtering
    pass thresholds on (e.g. drop docs with > 30% duplicated tokens).

    Scale shape: the only per-(doc,position) rows through any exchange
    are ``(doc_id, pos int, h bigint)`` — text leaves the plan at the
    scan. Corpus frequency is a hash aggregate on the 60-bit shingle
    hash (map-side partials collapse the within-partition repeats that
    boilerplate produces); duplicated positions come back via a
    left-semi join on that 8-byte key; span coverage is one per-doc
    window (shuffle on doc_id) + final aggregate. The exploded frame
    is consumed by both the frequency and the join side, so it is
    pinned (scalar rows, same rationale as ngram_jaccard_pairs).
    """
    from pyspark.sql.window import Window

    body = (
        f"named_struct('n_tokens', {x.xsize('_t', x.SPARK)}, "
        f"'hs', {x.pos_shingle_hashes('_t', k, x.SPARK)})"
    )
    g = df.selectExpr(
        id_col,
        f"{x.let(x.tokens(text_col, x.SPARK), '_t', body, x.SPARK)} AS _s",
    ).select(
        id_col,
        F.col("_s.n_tokens").alias("n_tokens"),
        F.col("_s.hs").alias("hs"),
    )
    g = pin(spread(g))
    ex = pin(g.select(id_col, F.posexplode("hs").alias("pos", "h")))
    freq = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    dup = ex.join(freq, on="h", how="left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    per_doc = (
        dup.withColumn("_prev", F.lag("pos").over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("dup_ngrams"),
            F.sum(
                F.when(F.col("_prev").isNull(), F.lit(k)).otherwise(
                    F.least(F.lit(k), F.col("pos") - F.col("_prev"))
                )
            )
            .cast("long")
            .alias("dup_tokens"),
        )
    )
    totals = g.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.size("hs").cast("long").alias("n_ngrams"),
    )
    joined = totals.join(per_doc, on=id_col, how="left")
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return joined.select(
        id_col,
        "n_tokens",
        "n_ngrams",
        F.coalesce(F.col("dup_ngrams"), F.lit(0)).cast("long").alias("dup_ngrams"),
        dup_tokens.alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            dup_tokens.cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
    )


def duplicate_ngram_spans_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> str:
    """DuckDB mirror of :func:`duplicate_ngram_spans` (same md5-based
    shingle hash, same gap-identity coverage)."""
    d = x.DUCK
    body = (
        f"{{'n_tokens': {x.xsize('_t', d)}, "
        f"'hs': {x.pos_shingle_hashes('_t', k, d)}}}"
    )
    s = x.let(x.tokens(text_col, d), "_t", body, d)
    return f"""
WITH g AS (
  SELECT {id_col}, s['n_tokens'] AS n_tokens, s['hs'] AS hs
  FROM (SELECT {id_col}, {s} AS s FROM {table})
),
ex AS (
  SELECT {id_col}, CAST(u.i AS INT) AS pos, hs[u.i + 1] AS h
  FROM g, unnest(range(0, len(hs))) u(i)
),
freq AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) >= {min_count}),
dp AS (
  SELECT {id_col}, pos,
         lag(pos) OVER (PARTITION BY {id_col} ORDER BY pos) AS prev
  FROM ex WHERE h IN (SELECT h FROM freq)
),
agg AS (
  SELECT {id_col}, COUNT(*) AS dup_ngrams,
         CAST(SUM(CASE WHEN prev IS NULL THEN {k}
                       ELSE LEAST({k}, pos - prev) END) AS BIGINT) AS dup_tokens
  FROM dp GROUP BY {id_col}
)
SELECT g.{id_col},
       CAST(g.n_tokens AS BIGINT) AS n_tokens,
       CAST(len(g.hs) AS BIGINT) AS n_ngrams,
       COALESCE(a.dup_ngrams, 0) AS dup_ngrams,
       COALESCE(a.dup_tokens, 0) AS dup_tokens,
       CASE WHEN g.n_tokens > 0
            THEN CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / g.n_tokens
            ELSE 0.0 END AS dup_token_frac
FROM g LEFT JOIN agg a USING ({id_col})
"""


def dedup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al., *Deduplicating Training Data
    Makes Language Models Better*, ACL 2022, sec. 4.2 — the step after
    :func:`duplicate_ngram_spans`'s measurement): delete every maximal
    token span of length >= ``k`` whose text occurs >= ``min_count``
    times in the corpus, and reassemble the surviving tokens. The
    k-gram coverage set is EXACT for the >= k threshold: a position
    lies in a shared substring of length >= k iff some duplicated
    k-gram covers it (every k-window of a shared span is itself
    duplicated; conversely a duplicated k-gram IS a shared k-span), so
    unioning the ``[pos, pos+k)`` intervals of duplicated shingles
    reproduces the suffix-array answer at token grain without the
    suffix array. Overlapping-or-touching intervals merge (gap <= k),
    matching the paper's span coalescing.

    Why full k-gram frequency and not winnowing-anchored candidates
    (``winnow_fp_array_expr``): anchors only guarantee detection of
    shared substrings >= w+k-1 tokens and blur span BOUNDARIES (the
    removal set would be approximate); the exact relation costs the
    same exchange COUNT — one hash aggregate on the 8-byte shingle
    hash, map-side partials collapsing boilerplate repeats — and the
    only rows through it are (doc_id, pos int, h bigint). Winnowing
    remains the right filter when only detection (not removal) is
    needed: that is ``winnow_fingerprints``.

    Scale shape: frequency agg + left-semi join on the hash key (both
    bucketed by h, never all-pairs), one per-doc window to coalesce
    islands, one dimension-sized island aggregate (docs WITH long
    duplicate spans only), and ONE equi-join back to the token arrays
    on ``id_col`` — removal is a scan-local array lambda
    (filter (t, i) -> no island covers i), so the text never shuffles.

    Returns (doc_id, text, n_tokens, n_removed_tokens,
    n_spans_removed) where ``text`` is the kept tokens rejoined with
    single spaces (the normalized stream, as dedup_lines does for
    lines); docs without duplicated spans pass through normalized.
    """
    from pyspark.sql.window import Window

    body = (
        f"named_struct('toks', _t, "
        f"'hs', {x.pos_shingle_hashes('_t', k, x.SPARK)})"
    )
    g = df.selectExpr(
        id_col,
        f"{x.let(x.tokens(text_col, x.SPARK), '_t', body, x.SPARK)} AS _s",
    ).select(
        id_col,
        F.col("_s.toks").alias("_t"),
        F.col("_s.hs").alias("hs"),
    )
    g = pin(spread(g))
    ex = g.select(id_col, F.posexplode("hs").alias("pos", "h"))
    freq = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    dup = ex.join(freq, on="h", how="left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    marked = dup.withColumn(
        "_new",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(k + 1)) > k,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = marked.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + k).alias("e"),
    )
    isl_arr = islands.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("_spans")
    )
    joined = g.join(isl_arr, on=id_col, how="left")
    kept = (
        "CASE WHEN _spans IS NULL THEN _t "
        "ELSE filter(_t, (t, i) -> "
        "NOT exists(_spans, a -> i >= a.s AND i < a.e)) END"
    )
    # ONE evaluation of the O(spans x tokens) kept-filter per row (r15
    # ADVICE): bind _k once and derive both the rebuilt text and the
    # removed-token count from the same binding.
    packed = (
        "named_struct('text', concat_ws(' ', _k), "
        "'removed', CAST(size(_t) - size(_k) AS BIGINT))"
    )
    return joined.selectExpr(
        id_col,
        x.let(kept, "_k", packed, x.SPARK) + " AS _o",
        "CAST(size(_t) AS BIGINT) AS n_tokens",
        "CAST(COALESCE(size(_spans), 0) AS BIGINT) AS n_spans_removed",
    ).selectExpr(
        id_col,
        "_o.text AS text",
        "n_tokens",
        "_o.removed AS n_removed_tokens",
        "n_spans_removed",
    )


def dedup_substrings_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> str:
    """DuckDB mirror of :func:`dedup_substrings`: same shingle hashes,
    same gap-<=-k island coalescing; removal via NOT EXISTS against
    the island set and ``string_agg(... ORDER BY pos)`` reassembly."""
    d = x.DUCK
    body = f"{{'toks': _t, 'hs': {x.pos_shingle_hashes('_t', k, d)}}}"
    s = x.let(x.tokens(text_col, d), "_t", body, d)
    return f"""
WITH g AS (
  SELECT {id_col}, s['toks'] AS _t, s['hs'] AS hs
  FROM (SELECT {id_col}, {s} AS s FROM {table})
),
ex AS (
  SELECT {id_col}, CAST(u.i AS INT) AS pos, hs[u.i + 1] AS h
  FROM g, unnest(range(0, len(hs))) u(i)
),
freq AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) >= {min_count}),
dup AS (
  SELECT {id_col}, pos,
         CASE WHEN COALESCE(pos - lag(pos) OVER (
           PARTITION BY {id_col} ORDER BY pos), {k + 1}) > {k}
         THEN 1 ELSE 0 END AS _new
  FROM ex WHERE h IN (SELECT h FROM freq)
),
isl0 AS (
  SELECT {id_col}, pos,
         SUM(_new) OVER (PARTITION BY {id_col} ORDER BY pos) AS _isl
  FROM dup
),
isl AS (
  SELECT {id_col}, _isl, MIN(pos) AS s, MAX(pos) + {k} AS e
  FROM isl0 GROUP BY 1, 2
),
toks AS (
  SELECT {id_col}, CAST(u.i AS INT) AS pos, _t[u.i + 1] AS tok
  FROM g, unnest(range(0, len(_t))) u(i)
),
kept AS (
  SELECT t.{id_col}, t.pos, t.tok
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM isl
    WHERE isl.{id_col} = t.{id_col} AND t.pos >= isl.s AND t.pos < isl.e
  )
)
SELECT g.{id_col},
       COALESCE((SELECT string_agg(kept.tok, ' ' ORDER BY kept.pos)
                 FROM kept WHERE kept.{id_col} = g.{id_col}), '') AS text,
       CAST(len(g._t) AS BIGINT) AS n_tokens,
       CAST(len(g._t) AS BIGINT)
         - COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM kept
                     WHERE kept.{id_col} = g.{id_col}), 0)
         AS n_removed_tokens,
       COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM isl
                 WHERE isl.{id_col} = g.{id_col}), 0) AS n_spans_removed
FROM g
"""


# -- SimHash near-dup ---------------------------------------------------------

def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash banding: pairs sharing any of ``bands`` byte-bands of the
    simhash, kept when Hamming distance <= max_hamming."""
    from dagster_etl_spark.operators.text import (
        simhash_from_hashes_expr,
        token_hashes_expr,
    )

    # let-bound token-hash array: md5'd once per row, referenced by all
    # ``bits`` vote sums (a staged projection would be re-inlined per bit).
    # Persisted: both sides of the banding self-join consume it.
    sim = x.let(
        token_hashes_expr(text_col, x.SPARK),
        "_ht",
        simhash_from_hashes_expr("_ht", x.SPARK, bits),
        x.SPARK,
    )
    hashed = pin(spread(df).selectExpr(id_col, f"{sim} AS simhash"))
    width = bits // bands
    mask = (1 << width) - 1
    # shiftright(): the multi-alias `AS (band_idx, bh)` parser path
    # rejects the `>>` operator
    band_arr = "array(" + ", ".join(
        f"shiftright(simhash, {b * width}) & {mask}" for b in range(bands)
    ) + ")"
    melted = hashed.selectExpr(
        id_col, "simhash", f"posexplode({band_arr}) AS (band_idx, bh)"
    )
    # join strategy deferred to AQE (r8, same reasoning as the minhash
    # band join): broadcast the band side while it fits the threshold,
    # shuffle join at corpus scale — decided at runtime from actual
    # sizes, with no eager count job at build
    a, b = melted.alias("a"), melted.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cands.selectExpr(
        "id_a", "id_b", "CAST(bit_count(h_a ^ h_b) AS INT) AS hamming"
    ).filter(F.col("hamming") <= max_hamming)


# -- near-dup clustering ------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Cluster near-dup pairs into groups: iterative min-label
    propagation to a fixpoint. Returns (doc_id, cluster_id) with
    cluster_id = min doc id of the component.

    This is the step after pair generation in a real dedup pipeline
    (keep one doc per cluster). Each iteration hops the min label one
    edge (join + aggregate on (node, label)) and then POINTER-JUMPS:
    ``label <- label(label)`` via a self-join of the label table, the
    hash-min + path-compression scheme — so convergence is
    O(log diameter) rounds, not O(diameter). Without the jump a
    200-node chain needs 200 rounds and a capped loop would return
    silently wrong labels (caught by the union-find property test);
    with it the same chain converges in ~8. Near-dup graphs (tiny
    components) still exit on the fixpoint check after 2-3 rounds.
    If ``max_iter`` rounds pass without a fixpoint the function raises
    rather than return a wrong clustering.

    Lineage is truncated with ``localCheckpoint`` every
    ``checkpoint_every`` rounds: persist() alone keeps the full
    join+agg plan tree growing one layer per round, so a deep component
    would pay ever-larger plan compilation. Note the trade:
    ``localCheckpoint`` stores blocks on executors with NO lineage
    fallback, so it bounds plan growth but sacrifices lost-executor
    recovery — at the 100 TB design point swap it for a reliable
    ``checkpoint()`` (or an explicit write to storage) per round
    batch. (Iterative -> the SQL oracle is a WITH RECURSIVE twin, see
    queries_text.)
    """
    # localCheckpoint (not persist) the edge set: persist() caches the
    # PHYSICAL result but every iteration's plan still embeds pairs'
    # full LOGICAL tree, and Catalyst re-analyzes it per fixpoint-count
    # job — composed downstream of a deep pipeline (curation_v2) that
    # analysis cost was 478 s of a 480 s run at 10x sf0.1 (r8), with
    # the actual jobs taking under 2 s. Checkpointing makes each
    # iteration a leaf scan; blocks are freed by the ContextCleaner
    # when the frame goes out of scope. At the 100 TB design point use
    # a reliable checkpoint() here for lost-executor recovery (same
    # trade documented above for the label chain).
    edges = (
        pairs.selectExpr(f"{id_a} AS src", f"{id_b} AS dst")
        .unionByName(pairs.selectExpr(f"{id_b} AS src", f"{id_a} AS dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # initial label = min of the closed neighborhood — exactly what
    # round 1 of the propagation would compute from identity labels,
    # but as one aggregate instead of a join+agg+fixpoint-check round
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .selectExpr("src AS node", "label")
        .persist()
    )
    try:
        converged = False
        for it in range(max_iter):
            # hop: each node adopts the min label in its closed neighborhood
            neighbor_labels = (
                edges.join(labels, on=F.col("dst") == F.col("node"))
                .selectExpr("src AS node", "label")
                .unionByName(labels)
            )
            hopped = neighbor_labels.groupBy("node").agg(
                F.min("label").alias("label")
            )
            # jump: label <- label(label). Every label value is a node id
            # (labels are closed-neighborhood minima over symmetric
            # edges, so the label node always has its own row) and
            # label(m) <= m, so the inner self-join is total and
            # monotone — this halves pointer depth each round.
            jumped = hopped.selectExpr("node AS __jn", "label AS __jl")
            new_labels = (
                hopped.join(jumped, on=F.col("label") == F.col("__jn"))
                .selectExpr("node", "__jl AS label")
            )
            if (it + 1) % checkpoint_every == 0:
                # materialize + cut the plan: downstream rounds see a
                # leaf scan, not `it` stacked join+agg layers
                new_labels = new_labels.localCheckpoint(eager=True)
            else:
                new_labels = new_labels.persist()
            changed = (
                new_labels.join(labels.withColumnRenamed("label", "old"), on="node")
                .filter("label != old")
                .limit(1)
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not reach a fixpoint in {max_iter} "
                "rounds — raise max_iter (convergence is O(log diameter))"
            )
    finally:
        # NOTE on block release: unpersist() frees CacheManager entries,
        # i.e. the persist()-ed label rounds. localCheckpoint'ed frames
        # (edges; every checkpoint_every-th label round) are RDD-
        # persisted, NOT CacheManager entries — for those this call is a
        # no-op and the blocks are released by the ContextCleaner once
        # the backing RDD is garbage-collected (frame out of scope).
        # Bounded either way: one edge set + <= 2 label rounds live at a
        # time, and repeated CC calls in a long session drain on GC.
        edges.unpersist()
    return track(labels).selectExpr("node AS doc_id", "label AS cluster_id")


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    collapse_exact: bool = True,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash pairs -> connected
    components -> (doc_id, cluster_id, is_canonical). Docs with no
    near-dup partner form singleton clusters.

    EXACT-DUP COLLAPSE (r18, r17 verdict task 3): a group of g
    byte-identical docs previously generated the full g(g-1)/2 LSH
    candidate clique — every pair verified at Jaccard 1.0, every edge
    dragged through the CC fixpoint. With ``collapse_exact`` the docs
    are first grouped by md5(text) (shingle-ELIGIBLE docs only — the
    same ``>= k tokens`` filter the pair generator applies, so
    identical SHORT docs keep their separate-singleton semantics);
    one representative per group — the min id, which is also the
    group's would-be cluster label — runs MinHash + CC, and the
    labels expand back through the (doc -> rep) mapping. Exactness:
    identical texts have identical shingle-hash sets, so they always
    band together and verify at Jaccard 1.0 >= any threshold <= 1 —
    the collapsed clustering is the identical partition with
    quadratic-in-g pair volume removed (DEDUPABLATE_X200_r18: dedup
    stage 29.7 -> 16.8 s on the x200 curation graph)."""
    if collapse_exact and threshold <= 1.0:
        k = minhash_kwargs.get("k", 3)
        tok_n = x.xsize(x.tokens(text_col, x.SPARK), x.SPARK)
        keyed = pin(
            spread(df)
            .filter(F.expr(f"{tok_n} >= {k}"))
            .selectExpr(id_col, f"md5({text_col}) AS __th")
        )
        reps = keyed.groupBy("__th").agg(F.min(id_col).alias("__rep"))
        mapping = keyed.join(reps, on="__th").select(id_col, "__rep")
        rep_docs = df.join(
            reps.selectExpr(f"__rep AS {id_col}"), on=id_col, how="left_semi"
        )
        pairs = minhash_neardup_pairs(
            rep_docs, text_col=text_col, id_col=id_col,
            threshold=threshold, **minhash_kwargs,
        )
        comp = connected_components(pairs).selectExpr(
            "doc_id AS __rep", "cluster_id"
        )
        # expand: every doc inherits its representative's label; a rep
        # with no near-dup partner labels its whole exact group by
        # itself (= the group's min id — the clique's label)
        labels = mapping.join(comp, on="__rep", how="left").selectExpr(
            f"{id_col} AS doc_id", "coalesce(cluster_id, __rep) AS cluster_id"
        )
    else:
        pairs = minhash_neardup_pairs(
            df, text_col=text_col, id_col=id_col,
            threshold=threshold, **minhash_kwargs,
        )
        labels = connected_components(pairs)
    all_docs = df.select(F.col(id_col).alias("doc_id"))
    clustered = all_docs.join(labels, on="doc_id", how="left").selectExpr(
        "doc_id", "coalesce(cluster_id, doc_id) AS cluster_id"
    )
    return clustered.withColumn(
        "is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("boolean")
    )


def cluster_survivors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    **minhash_kwargs,
) -> DataFrame:
    """Quality-based cluster survivor selection: where
    :func:`dedup_clusters` keeps the MIN-ID doc per near-dup cluster, a
    production curation pipeline keeps the HIGHEST-QUALITY one. Joins
    the per-doc quality score (text.doc_stats composite) onto the
    cluster assignment and picks, per cluster, the max-score doc with a
    deterministic min-id tiebreak.

    Numeric ids take ONE aggregate via lexicographic struct max over
    (score, -id): score ties resolve to the smallest id, and no window
    sort is needed. Non-numeric ids (string URL hashes etc.) can't be
    negated, so they take a two-phase form — max score per cluster,
    then ``min(id)`` over the argmax rows (null-safe ``<=>`` equality
    is exact: the max is drawn from the very same computed values, and
    an all-NULL-score cluster still elects its min-id survivor) — one
    extra cluster-keyed join that reuses the aggregate's partitioning.

    Returns (cluster_id, kept_doc, best_score, n_docs, n_dropped);
    singleton clusters appear with n_dropped = 0.
    """
    from dagster_etl_spark.operators.text import doc_stats_exprs, _let_cols

    clustered = dedup_clusters(
        df, text_col=text_col, id_col=id_col, threshold=threshold, **minhash_kwargs
    ).select(id_col, "cluster_id")
    q = {"quality_score": doc_stats_exprs(text_col, x.SPARK, tok="_t")["quality_score"]}
    scored = df.selectExpr(id_col, *_let_cols(q, text_col, "_t"))
    j = clustered.join(scored, on=id_col)
    numeric_id = dict(df.dtypes)[id_col] in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
    )
    if numeric_id:
        return (
            j.groupBy("cluster_id")
            .agg(
                F.expr(
                    f"max(struct(quality_score AS s, -{id_col} AS nid))"
                ).alias("m"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .selectExpr(
                "cluster_id",
                "-m.nid AS kept_doc",
                "m.s AS best_score",
                "n_docs",
                "n_docs - 1 AS n_dropped",
            )
        )
    best = j.groupBy("cluster_id").agg(
        F.max("quality_score").alias("best_score"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        j.join(best, on="cluster_id")
        # null-safe: a cluster whose every member has NULL quality_score
        # (e.g. NULL text) yields best_score = NULL; plain == would drop
        # all its rows and the cluster would vanish from the output,
        # while the numeric struct-max path still emits it. <=> keeps
        # both paths consistent (all-NULL cluster elects its min id).
        .filter(F.col("quality_score").eqNullSafe(F.col("best_score")))
        .groupBy("cluster_id", "best_score", "n_docs")
        .agg(F.min(id_col).alias("kept_doc"))
        .selectExpr(
            "cluster_id",
            "kept_doc",
            "best_score",
            "n_docs",
            "n_docs - 1 AS n_dropped",
        )
    )


# -- embedding near-dup --------------------------------------------------------

def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    threshold: float = 0.9,
    max_id: int | None = None,
) -> DataFrame:
    """All-pairs cosine near-dup over a bounded id range (oracle-exact
    explicit-chain cosine). For unbounded corpora use the LSH-bucketed
    path in similarity.py — this quadratic form is the verifier."""
    if max_id is not None:
        df = df.filter(F.col(id_col) < max_id)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = x.cosine("va", "vb", dim, x.SPARK)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .selectExpr("id_a", "id_b", f"{cos} AS cosine")
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    nlist: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): cluster the embeddings with a
    coarse quantizer, compute pairwise cosine WITHIN each cluster
    only, and drop every vector that has a semantic duplicate
    (cosine >= threshold) of higher keep-priority. Keep-priority
    follows the paper's best-performing policy: within a duplicate
    pair the member LESS similar to its cluster centroid survives
    (low-centroid-similarity representatives preserve diversity);
    exact cent-cosine ties break on lower id.

    Returns one row per input vector:
    ``(id_col, bucket, cent_cosine, kept)``.

    Scale shape: the quantizer is the deterministic hash quantizer
    (similarity.hash_centroids — bounded nlist-row collect, oracle-
    reproducible); assignment is the scan-local similarity.nearest_lists
    kernel; the costly shuffle is the within-bucket self-join, at
    sum(bucket^2) — bounded by growing nlist with the corpus exactly
    like IVF search (nlist ~ sqrt(N), see IncrementalANNIndex's
    sizing rule). This within-cluster-pairwise structure is the
    paper's own design; giant skewed clusters fall to AQE skew
    handling, or compose with MinHash-LSH inside the cluster.
    """
    from dagster_etl_spark.operators.similarity import hash_centroids, nearest_lists

    cents = hash_centroids(df, nlist, id_col=id_col, vec_col=vec_col)
    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], ["bucket", "cv"]
    ).selectExpr("CAST(bucket AS INT) AS bucket", "CAST(cv AS array<float>) AS cv")
    # max-dot assignment (ties to the larger bucket, the oracle's ORDER
    # BY d DESC, cidx DESC), then a broadcast equi-join for the cv. The
    # id-hash repartition spreads the pair stage below: on a one-file
    # input AQE runs that join in as many tasks as this stage has
    # (measured 4.1 s unspread vs 2.5 s at sf0.1 on 4 cores), and the
    # final join on id reuses it
    cent_cos = x.cosine(vec_col, "cv", dim, x.SPARK)
    assigned = pin(
        nearest_lists(df, vec_col, cents, [id_col, vec_col])
        .repartition(id_col)
        .join(F.broadcast(cent_df), on="bucket")
        .selectExpr(
            id_col,
            vec_col,
            "bucket",
            f"{cent_cos} AS cent_cosine",
            f"{x.norm_fold(vec_col, x.SPARK)} AS _nrm",
        )
    )
    a = assigned.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        "bucket",
        F.col("cent_cosine").alias("_ca"),
        F.col("_nrm").alias("_na"),
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        "bucket",
        F.col("cent_cosine").alias("_cb"),
        F.col("_nrm").alias("_nb"),
    )
    # pair cosine with the norms computed ONCE per vector (the cosine
    # helper would recompute both norm folds per candidate pair —
    # 3x the pair-stage flops); same expressions, same IEEE sequence
    pair_cos = f"({x.dot_fold('_va', '_vb', x.SPARK)} / nullif(_na * _nb, 0.0d))"
    dropped = (
        a.join(b, on="bucket")
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(F.expr(f"{pair_cos} >= {threshold}"))
        # the OTHER member wins: strictly smaller cent-cosine, or the
        # smaller id on an exact tie
        .filter(
            (F.col("_cb") < F.col("_ca"))
            | ((F.col("_cb") == F.col("_ca")) & (F.col("_idb") < F.col("_ida")))
        )
        .select(F.col("_ida").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, on=id_col, how="left")
        .select(
            id_col,
            "bucket",
            "cent_cosine",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


# -- incremental near-dup index ------------------------------------------------

class IncrementalNearDupIndex(StandingState):
    """Daily-cadence MinHash+LSH near-dup (the dedup analog of
    sources/bucketed.BucketedPipeline): a 100 TB crawl doesn't re-pair
    the whole corpus per ingest — it bands the NEW slice once, probes
    it against the standing band index, verifies, and appends. Work
    per day is O(new x duplicate-density), never O(corpus^2) or even
    O(corpus): the only full pass ever taken is each document's own
    banding on the day it arrives.

    State = three catalog tables (Spark managed here; Hive/Iceberg in
    production, same API):

    * ``{name}_lsh_bands``  (doc_id, bkey) — bkey = band_idx ':' band
      hash, ONE key so the probe join's equi-key equals the bucket
      column exactly — bucketed by ``bkey`` so the candidate probe
      shuffles ONLY the new slice into the index's bucketing; the
      corpus side reads co-located, growing scan cost but never
      shuffle cost;
    * ``{name}_lsh_hashes`` (doc_id, hs) bucketed by ``doc_id`` for
      the co-located verify joins;
    * ``{name}_lsh_pairs``  (id_a, id_b, jaccard) append-only results.

    Pair-completeness invariant (property-tested in
    tests/test_dedup_incremental.py): after ingesting batches
    B1..Bn, the pairs table equals ``minhash_neardup_pairs`` over
    B1 ∪ .. ∪ Bn exactly — every pair (a, b) is found on the day its
    LATER member arrives (the probe side is new docs, the index side
    already contains them after the append), and never re-found (on
    later days neither member is new).
    """

    def __init__(
        self,
        spark,
        name: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
        num_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.bands_table = f"{name}_lsh_bands"
        self.hashes_table = f"{name}_lsh_hashes"
        self.pairs_table = f"{name}_lsh_pairs"
        self.text_col = text_col
        self.id_col = id_col
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.num_buckets = num_buckets
        self.components = {
            "bands": (self.bands_table, ["bkey"]),
            "hashes": (self.hashes_table, [id_col]),
            "pairs": (self.pairs_table, None),
        }

    def _encode(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(bands_df, hashes_df) for a batch — :func:`minhash_bands` over
        :func:`minhash_hashes`, one LAZY plan each."""
        hashed = minhash_hashes(docs, self.text_col, self.id_col, self.k)
        return minhash_bands(
            hashed, self.id_col, self.num_hashes, self.bands
        ), hashed

    def _stage(
        self, store, docs: DataFrame, slice_id: int, threshold: float = 0.2
    ):
        """Stage one slice's hashes, bands and new pairs. The probe view
        is committed state ∪ this slice's own staged bands — identical
        on a replay, because the crashed attempt never committed — so
        the pair-completeness invariant (every pair found on the slice
        where its later member arrives, never re-found) survives a kill
        at any point."""
        spark = docs.sparkSession
        n_files = slice_file_budget(docs)
        # r19 (guide §1.2): stage hashes FIRST — the tokenize+shingle+
        # md5 pass — then derive bands from the STAGED hashes file, so
        # the heavy chain executes once per slice instead of once for
        # each of the two component writes. Replay-identical: a replay
        # rewrites the same deterministic hashes, and the band tail is
        # a pure function of them.
        store.write(
            "hashes", slice_id,
            minhash_hashes(docs, self.text_col, self.id_col, self.k),
            files=n_files,
        )
        yield "hashes"
        hashes = store.read_slice(spark, "hashes", slice_id)
        bands = minhash_bands(
            spread(hashes), self.id_col, self.num_hashes, self.bands
        )
        store.write("bands", slice_id, bands, files=n_files)
        yield "bands"
        # pairs is a shuffle (dropDuplicates/join) output — AQE already
        # coalesces its write to slice-sized files, no budget needed
        bands = store.read_slice(spark, "bands", slice_id)
        pairs = self._probe_pairs(bands, threshold, slice_hashes=hashes)
        store.write("pairs", slice_id, pairs)
        yield "pairs"

    def _probe_pairs(
        self,
        new_bands: DataFrame,
        threshold: float,
        slice_hashes: DataFrame | None = None,
    ) -> DataFrame:
        """Pairs touching >= 1 doc of ``new_bands``, probed against the
        standing index. Split out so tests can assert the plan shape
        (the index sides read bucketed; only probe/candidate rows
        shuffle).

        With ``slice_hashes`` the probe is ingest_slice's staged slice,
        which joins the index too (so new-new pairs surface).
        Normalizing with least/greatest + dropDuplicates folds the two
        orders a new-new pair produces; a new-old pair appears in one
        order only.

        Each join runs part by part (:func:`_join_parts`): the bucketed
        base stays co-located, and only the small part — committed
        deltas ∪ the slice — is joined unbucketed.

        Session binding: every read here goes through the SLICE's own
        session (new_bands.sparkSession), not self.spark. Under
        foreachBatch each micro-batch runs in a fresh session clone,
        and a session's per-SessionCatalog relation cache is NOT
        invalidated by another session's append — reading the index
        via self.spark from inside batch N would serve batch 0's file
        listing and silently drop every cross-batch pair (r11: 2 pairs
        found instead of 28 before this fix)."""
        spark = new_bands.sparkSession
        id_c = self.id_col
        in_index = slice_hashes is not None
        probe = new_bands.select(F.col(id_c).alias("__pid"), "bkey")
        bands = self._parts("bands", spark, new_bands if in_index else None)
        cands = (
            _join_parts(probe, bands, "bkey")
            .filter(F.col("__pid") != F.col(id_c))
            .select(
                F.least("__pid", id_c).alias("id_a"),
                F.greatest("__pid", id_c).alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        hashes = self._parts("hashes", spark, slice_hashes)
        return jaccard_verify(
            cands, hashes, hashes, "id_a", "id_b", self.id_col, threshold
        )

    def probe_external(
        self, docs: DataFrame, threshold: float = 0.2
    ) -> DataFrame:
        """READ-ONLY cross-corpus sweep against the standing index: band
        an EXTERNAL corpus (a newly released benchmark / eval set) and
        probe the index without appending anything — "does my standing
        training corpus near-duplicate any of these new docs?", the
        recurring question a decontamination pipeline answers every
        time an eval suite updates. Work is O(external x density): the
        external side bands once and shuffles into the index's bkey
        bucketing; the index side reads co-located (same plan shape as
        ingest's probe).

        Returns (left_id, right_id, jaccard): left = index member,
        right = external doc, exact-Jaccard verified — identical
        verdicts to the one-shot :func:`cross_corpus_neardup_pairs`
        over (indexed corpus, external corpus)."""
        spark = docs.sparkSession
        ext_bands, ext_hashes = self._encode(docs)
        probe = ext_bands.select(F.col(self.id_col).alias("right_id"), "bkey")
        cands = (
            _join_parts(probe, self._parts("bands", spark), "bkey")
            .select(F.col(self.id_col).alias("left_id"), "right_id")
            .dropDuplicates(["left_id", "right_id"])
        )
        return jaccard_verify(
            cands, self._parts("hashes", spark), [ext_hashes],
            "left_id", "right_id", self.id_col, threshold,
        )

    def pairs(self) -> DataFrame:
        """All pairs found so far (id_a < id_b, exact Jaccard): base
        table ∪ committed slice deltas, refreshed first (appends made by
        OTHER sessions, such as foreachBatch clones, don't invalidate
        this session's relation cache).

        If no ingest ever created the table (e.g. a stream whose
        micro-batches were all empty — ingest_batch returns early on
        isEmpty), returns an EMPTY (id_a, id_b, jaccard) frame instead
        of raising table-not-found."""
        parts = self._parts("pairs")
        if not parts:
            return self.spark.createDataFrame(
                [], "id_a BIGINT, id_b BIGINT, jaccard DOUBLE"
            )
        return union_all(*parts)


def dedup_self_repeats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Intra-document repetition removal — the within-doc complement of
    :func:`dedup_lines` (crawl pages repeat their own nav blocks,
    footers, and spam paragraphs; cross-document frequency never sees
    it). Keep the FIRST occurrence of each normalized line per
    document, drop later repeats, reassemble in original order.

    Returns (id_col, text_col, n_lines, n_dropped).

    Scale shape: NO cross-document state at all — one explode, one
    window partitioned by (doc, line-fingerprint), one reassembly
    aggregate, everything keyed by the document. At 100 TB this is a
    single hash exchange on doc_id-grain keys (and none at all if the
    corpus is already laid out by doc). Blank lines are document
    structure, never dropped (same convention as dedup_lines); NULL
    texts drop out (split(NULL) explodes to nothing).
    """
    from pyspark.sql.window import Window

    sep_rx = "\\Q" + line_sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_rx)).alias("line_no", "line"),
    )
    fp = F.expr("md5(trim(lower(line)))")
    w = Window.partitionBy(id_col, fp).orderBy("line_no")
    flagged = lines.withColumn("rn", F.row_number().over(w)).withColumn(
        "keep", (F.col("rn") == 1) | (F.expr("trim(line) = ''"))
    )
    kept = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("line_no", "line")))
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s["line"]), line_sep).alias(
            text_col
        ),
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(~F.col("keep"), F.lit(1))).alias("n_dropped"),
    )


def scrub_benchmark_spans(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
) -> DataFrame:
    """SPAN-level benchmark decontamination — the surgical upgrade of
    document-level :func:`~dagster_etl_spark.operators.scrub.decontaminate`
    (GPT-3 appendix C / Lee et al. 2022 both remove the overlapping
    WINDOW, not the whole document): every maximal run of train-doc
    positions whose 13-gram matches ANY benchmark 13-gram is excised
    (positions i..i+k-1 for each matching start i; gap <= k runs
    coalesce into one island exactly as in :func:`dedup_substrings`),
    and the document survives with the contaminated spans removed —
    dropping whole documents over one quoted eval question throws away
    good tokens, and at 100 TB that is real training data.

    Scale shape: the benchmark's distinct k-gram hash set is
    benchmark-sized (broadcastable in practice; the probe is a
    left-semi equi-join on the 60-bit hash either way), the train side
    is ONE positional-shingle explode + the per-doc island window +
    ONE join back to the pinned token arrays — the text itself never
    shuffles, same plan family as dedup_substrings (0.10x the
    single-process baseline at x100).

    Returns (doc_id, text, n_tokens, n_removed_tokens,
    n_spans_removed); clean docs pass through whitespace-normalized.
    """
    from pyspark.sql.window import Window

    body = (
        f"named_struct('toks', _t, "
        f"'hs', {x.pos_shingle_hashes('_t', k, x.SPARK)})"
    )
    g = train.selectExpr(
        id_col,
        f"{x.let(x.tokens(text_col, x.SPARK), '_t', body, x.SPARK)} AS _s",
    ).select(
        id_col,
        F.col("_s.toks").alias("_t"),
        F.col("_s.hs").alias("hs"),
    )
    g = pin(spread(g))
    ex = g.select(id_col, F.posexplode("hs").alias("pos", "h"))
    bench_h = (
        bench.selectExpr(
            f"explode({x.let(x.tokens(text_col, x.SPARK), '_t', x.pos_shingle_hashes('_t', k, x.SPARK), x.SPARK)}) AS h"
        )
        .distinct()
    )
    dup = ex.join(bench_h, on="h", how="left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    marked = dup.withColumn(
        "_new",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(k + 1)) > k,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = marked.groupBy(id_col, "_isl").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + k).alias("e"),
    )
    isl_arr = islands.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("_spans")
    )
    joined = g.join(isl_arr, on=id_col, how="left")
    kept = (
        "CASE WHEN _spans IS NULL THEN _t "
        "ELSE filter(_t, (t, i) -> "
        "NOT exists(_spans, a -> i >= a.s AND i < a.e)) END"
    )
    # ONE evaluation of the O(spans x tokens) kept-filter per row (r15
    # ADVICE): bind _k once and derive both the rebuilt text and the
    # removed-token count from the same binding.
    packed = (
        "named_struct('text', concat_ws(' ', _k), "
        "'removed', CAST(size(_t) - size(_k) AS BIGINT))"
    )
    return joined.selectExpr(
        id_col,
        x.let(kept, "_k", packed, x.SPARK) + " AS _o",
        "CAST(size(_t) AS BIGINT) AS n_tokens",
        "CAST(COALESCE(size(_spans), 0) AS BIGINT) AS n_spans_removed",
    ).selectExpr(
        id_col,
        "_o.text AS text",
        "n_tokens",
        "_o.removed AS n_removed_tokens",
        "n_spans_removed",
    )


def scrub_benchmark_spans_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    bench_pred: str = "doc_id % 17 = 0",
) -> str:
    """DuckDB mirror of :func:`scrub_benchmark_spans` over the standard
    fixture split (bench = ``bench_pred``, train = its complement)."""
    d = x.DUCK
    body = f"{{'toks': _t, 'hs': {x.pos_shingle_hashes('_t', k, d)}}}"
    s = x.let(x.tokens(text_col, d), "_t", body, d)
    return f"""
WITH g AS (
  SELECT {id_col}, s['toks'] AS _t, s['hs'] AS hs
  FROM (SELECT {id_col}, {s} AS s FROM {table}
        WHERE NOT ({bench_pred}))
),
bench AS (
  SELECT DISTINCT UNNEST(s['hs']) AS h
  FROM (SELECT {s} AS s FROM {table} WHERE {bench_pred})
),
ex AS (
  SELECT {id_col}, CAST(u.i AS INT) AS pos, hs[u.i + 1] AS h
  FROM g, unnest(range(0, len(hs))) u(i)
),
dup AS (
  SELECT {id_col}, pos,
         CASE WHEN COALESCE(pos - lag(pos) OVER (
           PARTITION BY {id_col} ORDER BY pos), {k + 1}) > {k}
         THEN 1 ELSE 0 END AS _new
  FROM ex WHERE h IN (SELECT h FROM bench)
),
isl0 AS (
  SELECT {id_col}, pos,
         SUM(_new) OVER (PARTITION BY {id_col} ORDER BY pos) AS _isl
  FROM dup
),
isl AS (
  SELECT {id_col}, _isl, MIN(pos) AS s, MAX(pos) + {k} AS e
  FROM isl0 GROUP BY 1, 2
),
toks AS (
  SELECT {id_col}, CAST(u.i AS INT) AS pos, _t[u.i + 1] AS tok
  FROM g, unnest(range(0, len(_t))) u(i)
),
kept AS (
  SELECT t.{id_col}, t.pos, t.tok
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM isl
    WHERE isl.{id_col} = t.{id_col} AND t.pos >= isl.s AND t.pos < isl.e
  )
)
SELECT g.{id_col},
       COALESCE((SELECT string_agg(kept.tok, ' ' ORDER BY kept.pos)
                 FROM kept WHERE kept.{id_col} = g.{id_col}), '') AS text,
       CAST(len(g._t) AS BIGINT) AS n_tokens,
       CAST(len(g._t) AS BIGINT)
         - COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM kept
                     WHERE kept.{id_col} = g.{id_col}), 0)
         AS n_removed_tokens,
       COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM isl
                 WHERE isl.{id_col} = g.{id_col}), 0) AS n_spans_removed
FROM g
"""
