"""Scalar/aggregate helper expressions (SURVEY.md §2.5).

All helpers return Catalyst Column expressions — JVM-side, codegen'd,
no Python UDFs — so they stay on the whole-stage-codegen fast path at
any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- py4j round-trip economics (r18 optimization round) -------------------
# Composing Column expressions costs one driver<->JVM round trip per
# operator (~0.2-0.5 ms each on this host; F.col + two arithmetic ops
# measured ~3-5 ms). A query built from dozens of Column ops spends
# 100-200 ms of every build in py4j chatter, which bench.py pays on
# every timed sample (the bench rebuilds the DataFrame per run, like
# any real driver program does). A single ``F.expr("...")`` ships the
# whole subexpression in ONE round trip and parses it JVM-side (~0.4 ms
# measured for a full CASE WHEN chain) into the IDENTICAL Catalyst
# tree. The helpers below therefore have *_sql twins, and the Column
# helpers take str = SQL expression and fast-path through one F.expr.
# This is driver-side constant overhead (guide §7.3: planning/driver
# time is real wall time); it does not change any plan or result —
# equivalence is hash-gated by every touched query's DuckDB oracle.


def scaled_long_sql(expr_sql: str, scale: int = 2) -> str:
    """SQL-string twin of :func:`scaled_long` — parses to the identical
    sign-adjusted CAST tree (``D`` suffixes keep the literals DOUBLE,
    matching ``F.lit(0.5)``)."""
    s = f"(({expr_sql}) * {float(10 ** scale)!r}D)"
    return f"CAST((CASE WHEN {s} >= 0 THEN {s} + 0.5D ELSE {s} - 0.5D END) AS BIGINT)"


def money_sum_sql(expr_sql: str, scale: int = 2) -> str:
    """SQL-string twin of :func:`money_sum` (same op sequence: exact
    BIGINT sum, one cast to double, one divide)."""
    return (
        f"CAST(SUM({scaled_long_sql(expr_sql, scale)}) AS DOUBLE)"
        f" / {float(10 ** scale)!r}D"
    )


def flag_sql(cond_sql: str) -> str:
    """Boolean SQL condition -> 1/0 int."""
    return f"(CASE WHEN {cond_sql} THEN 1 ELSE 0 END)"


def sql_str_literal(value: str) -> str:
    """Escape a Python string as a SQL single-quoted literal via
    quote-doubling. Backslash-containing values are REJECTED (r18
    ADVICE): Spark SQL's default parser (escapedStringLiterals=false)
    treats ``\\`` as an escape inside literals while ANSI engines do
    not, so no single quoting renders such a value identically in
    both dialects — a silent corruption if allowed through. Callers
    with backslash data should bind it as a Column literal
    (``F.lit``) instead."""
    s = str(value)
    if "\\" in s:
        raise ValueError(
            "sql_str_literal cannot represent backslashes portably "
            f"(Spark parses them as escapes): {s!r} — use F.lit()"
        )
    return "'" + s.replace("'", "''") + "'"


def sql_in_list(col_sql: str, values) -> str:
    """``col IN (...)`` predicate with escaped string literals. An
    empty ``values`` yields the FALSE predicate (r18 ADVICE: ``IN ()``
    is a parse error, while the ``isin([])`` form this helper replaced
    planned fine and matched nothing)."""
    items = ", ".join(sql_str_literal(v) for v in values)
    return f"{col_sql} IN ({items})" if items else "(1 = 0)"


def scaled_long(col: Column | str, scale: int = 2) -> Column:
    """``round(col * 10^scale)`` as BIGINT — the fixed-point form of a
    money/measure double (exact for values with <= ``scale`` decimal
    places; values with more are rounded half-away-from-zero to
    ``scale`` places).

    Implemented as a sign-adjusted ``CAST(x + ±0.5 AS BIGINT)``
    (truncation toward zero) rather than ``F.round``: Spark's double
    ``round`` allocates a BigDecimal per row, which measured 3× slower
    across a 4-sum aggregate at sf0.1. The cast form is branch-only
    codegen and produces the identical integer — equal to DuckDB's
    ``round()`` (half-away-from-zero) for every double, and verified
    row-for-row against ``F.round`` on the fixture data at scales 2
    and 6. Valid while ``|col| * 10^scale < 2^52`` (beyond that the
    +0.5 add can tie-round; such values are already whole doubles) —
    far looser than the int64 SUM bound documented in money_sum.

    A ``str`` argument is treated as a SQL expression and built in ONE
    py4j round trip (identical tree — see the module note above); a
    ``Column`` keeps the composed form for callers holding opaque
    Column objects.
    """
    if isinstance(col, str):
        return F.expr(scaled_long_sql(col, scale))
    scaled = col * float(10 ** scale)
    return (
        F.when(scaled >= 0, scaled + F.lit(0.5))
        .otherwise(scaled - F.lit(0.5))
        .cast("bigint")
    )


def money_sum(col: Column | str, alias: str | None = None, scale: int = 2) -> Column:
    """Order-insensitive exact sum for fixed-point monetary doubles.

    Summing doubles is non-associative: Spark's partial aggregation
    order differs run-to-run (and from any single-process oracle), so
    raw ``SUM(double)`` is not reproducible at scale. Fixed-point
    BIGINT sums are exact AND stay on the long-backed codegen fast
    path — Spark's SUM over DECIMAL(18,s) accumulates in
    DECIMAL(28,s), which falls back to BigDecimal per row (measured
    4-5x slower at sf0.1). The final ``CAST(sum AS DOUBLE) / 10^s``
    happens in the identical IEEE sequence in the DuckDB oracles
    (:func:`scaled_sum_sql`), so results match bit-for-bit.

    Overflow bound: the per-GROUP scaled sum must fit int64 —
    9.2e18 / 10^scale units (at scale=2, ~9e11 rows per group of
    ~$100k values). Wide-enough groups hold at 100 TB for keyed
    aggregations; for whole-table rollups with a handful of groups,
    pre-aggregate per (group, spark_partition_id()) in BIGINT and
    merge the few partials in DECIMAL(38,0) — exact integer addition
    is associative, so the result is identical.

    Mirrors the reference's money columns which are DECIMAL(10,4) at
    the source and float64 in-flight (reference: docker/init-scripts/
    01_create_tables.sql:33-35, etl/utils/parquet.py:15-26).
    """
    if isinstance(col, str):
        out = F.expr(money_sum_sql(col, scale))
    else:
        out = F.sum(scaled_long(col, scale)).cast("double") / float(10 ** scale)
    return out.alias(alias) if alias else out


def scaled_sum_sql(expr_sql: str, scale: int = 2) -> str:
    """The SQL twin of :func:`money_sum` — same text parses in Spark
    SQL and DuckDB, and both engines execute the identical op
    sequence: round-to-fixed-point, exact integer sum, one cast to
    double, one divide. (DuckDB sums BIGINT into HUGEINT; same exact
    integer, same nearest-double.)"""
    s = 10 ** scale
    return (
        f"CAST(SUM(CAST(round(({expr_sql}) * {s}) AS BIGINT)) AS DOUBLE) / {s}.0"
    )


def twostage_money_sums(
    df,
    keys: list[str],
    money: dict[str, tuple[Column | str, int]],
    count_alias: str = "n_rows",
):
    """Overflow-safe exact fixed-point sums for FEW-GROUP rollups
    (whole-table TPC-H-Q1-style aggregations, where a single group can
    accumulate beyond int64 at extreme scale).

    Stage 1 sums the scaled BIGINTs per (keys, input partition) —
    long-backed codegen over all the data, and a per-partition partial
    can't overflow (int64 holds ~9e9 rows of $100k values per
    partition). Stage 2 merges the few (groups × partitions) partials
    in DECIMAL(38,0) — exact integer addition is associative, so the
    result is IDENTICAL to the single-stage sum (equivalence-tested),
    and the slow decimal path touches only a handful of rows.

    Returns the aggregated DataFrame with one double column per
    ``money`` alias plus ``count_alias``.
    """
    partials = [
        (
            F.expr(f"SUM({scaled_long_sql(c, s)})")
            if isinstance(c, str)
            else F.sum(scaled_long(c, s))
        ).alias(f"_p_{a}")
        for a, (c, s) in money.items()
    ]
    stage1 = df.groupBy(*keys, F.expr("spark_partition_id()").alias("_pid")).agg(
        *partials, F.expr("COUNT(1)").alias("_p_n")
    )
    finals = [
        F.expr(
            f"CAST(SUM(CAST(`_p_{a}` AS DECIMAL(38,0))) AS DOUBLE)"
            f" / {float(10 ** s)!r}D"
        ).alias(a)
        for a, (_, s) in money.items()
    ]
    return stage1.groupBy(*keys).agg(
        *finals, F.expr("SUM(`_p_n`)").alias(count_alias)
    )


def exact_avg(col: Column | str, alias: str | None = None, scale: int = 2) -> Column:
    """Reproducible mean: exact fixed-point sum / count, divided in
    double (oracle twin: ``scaled_sum_sql(c) / COUNT(c)``)."""
    if isinstance(col, str):
        out = F.expr(f"({money_sum_sql(col, scale)}) / COUNT({col})")
    else:
        out = (
            F.sum(scaled_long(col, scale)).cast("double") / float(10 ** scale)
        ) / F.count(col)
    return out.alias(alias) if alias else out
