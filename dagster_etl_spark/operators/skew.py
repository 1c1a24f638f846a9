"""Skew-handling helpers for 100 TB joins and aggregations.

First line of defense is AQE (`spark.sql.adaptive.skewJoin.enabled`,
on in session.py): post-shuffle skewed partitions are split at runtime.
Salting is the explicit fallback for pathological key skew AQE cannot
fix — a hot key whose single value exceeds an executor (e.g. the empty
document, a null-ish default id, a celebrity user):

* ``salted_join``: the large side gets a uniform salt in [0, salt);
  the small side is replicated ``salt`` times; the join key becomes
  (key, salt), splitting each hot key's hash bucket into ``salt``
  shuffle partitions. Cost: small side shipped salt×, so reserve it
  for keys measured hot (``skewed_keys``) and joins where the small
  side is genuinely small (else broadcast already fixed it).
* ``salted_groupby``: two-stage aggregation — partial by (key, salt),
  final by key — for algebraic aggregates whose hot groups overwhelm
  partial aggregation's hash map.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skewed_keys(
    df: DataFrame,
    keys: Sequence[str],
    min_share: float = 0.01,
    top: int = 20,
    sample_fraction: float | None = 0.05,
) -> DataFrame:
    """Measure candidate hot keys: values holding more than
    ``min_share`` of rows.

    Hot-key detection is a share estimate, not an exact count, so it
    runs on a row sample by default instead of two full scans of the
    input — at 100 TB the default 5% sample bounds the diagnostic to a
    twentieth of the data, while a >=1% hot key is still detected with
    overwhelming probability (its sampled count concentrates tightly
    around share × sampled_total). Shares are ratios of the SAMPLED
    total, so the estimate is unbiased at any input size.
    ``sample_fraction=None`` forces the exact full-scan path.
    """
    if sample_fraction is not None and 0 < sample_fraction < 1:
        df = df.sample(fraction=sample_fraction, seed=7)
    total = df.count()
    return (
        df.groupBy(*keys)
        .count()
        .filter(F.col("count") >= total * min_share)
        .orderBy(F.col("count").desc())
        .limit(top)
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Equi-join with hot-key splitting. Result equals
    ``large.join(small, on, how)`` for inner/left joins (asserted in
    tests); the salt column never escapes."""
    on = list(on)
    salted_large = large.withColumn(
        "_salt", F.floor(F.rand(seed) * salt).cast("int")
    )
    salts = F.explode(F.array([F.lit(i) for i in range(salt)])).alias("_salt")
    salted_small = small.select("*", salts)
    out = salted_large.join(salted_small, on=on + ["_salt"], how=how)
    return out.drop("_salt")


def salted_groupby(
    df: DataFrame,
    keys: Sequence[str],
    agg_col: str,
    salt: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-stage sum: partial by (keys, salt) then final by keys.
    Spark's hash aggregate already does map-side partials, so this only
    pays off when a single group's partial state dominates one task —
    the explicit form also documents the pattern for custom aggs."""
    keys = list(keys)
    partial = (
        df.withColumn("_salt", F.floor(F.rand(seed) * salt).cast("int"))
        .groupBy(*keys, "_salt")
        .agg(F.sum(agg_col).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(f"sum_{agg_col}"))
