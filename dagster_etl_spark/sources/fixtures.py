"""Driver test-data (fixture) source.

Loads the TPC-H-ish tables from ``/root/testdata/sf*/`` (TESTDATA.md).
This is the engine's stand-in for the reference's JDBC extract layer
(reference: etl/resources/rdb.py:64-103); the same partition-predicate
composition applies on either source.

The fixture parquet is pandas-written with TIMESTAMP(NANOS) columns,
which Spark reads as LongType under
``spark.sql.legacy.parquet.nanosAsLong``. We sniff the parquet footer
with pyarrow (driver-side, one footer, cheap at any scale) and restore
TimestampType — truncating ns→µs exactly like Spark's own reader would.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) in ``path``'s footer."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    try:
        schema = pq.read_schema(path)
    except Exception:
        return ()
    return tuple(
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns" and f.type.tz is None
    )


# DataFrame handles are immutable plans — reusing one skips the
# ~100ms/table of per-call file listing + footer schema read that
# ``spark.read.parquet`` pays. This is what a metastore-backed catalog
# does for real tables (cached FileIndex + schema); keyed by
# applicationId so a new session never sees stale handles.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, restoring ns-timestamp columns."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    for c in _nanos_timestamp_cols(path):
        # nanos-since-epoch long -> micros -> TimestampType (UTC session tz)
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Micros-precision fixtures read as TIMESTAMP_NTZ when the session
    # infers NTZ (Spark 4 default). Normalize to TimestampType — under
    # the UTC session timezone the wall-clock values are unchanged, and
    # downstream watermarks/windows require TIMESTAMP.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    _DF_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for n in TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
