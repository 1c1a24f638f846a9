"""SparkSession factory for the engine.

The reference (bong2jjang/dagster-ETL) is single-process pandas with no
session concept; here the session is the engine's execution context.
Defaults are tuned for the driver harness (local[N]) but every knob is
overridable so the same builder works on a 1000-executor cluster:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  replaces all of the reference's hand-tuned batch sizes
  (reference: etl/resources/trino.py:110 batch_size=1000).
* ``spark.sql.session.timeZone`` is explicit because the reference pins
  partitions to a timezone (reference: etl/partitions/daily.py:11-16);
  we default to UTC so arithmetic matches naive-timestamp oracles.
* ``spark.sql.legacy.parquet.nanosAsLong`` — the driver fixtures are
  pandas-written parquet with TIMESTAMP(NANOS); Spark reads those as
  LongType and :mod:`dagster_etl_spark.sources.fixtures` restores proper
  TimestampType columns.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_TZ = "UTC"


def default_cpus() -> int:
    """Executor threads and shuffle partitions: ``SPARK_GRAFT_CPUS`` when
    set (the deployment override), else the cores this process may be
    scheduled on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "dagster-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = DEFAULT_TZ,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master``/``shuffle_partitions`` default from :func:`default_cpus`
    so tests, bench.py and the correctness harness agree on parallelism.
    """
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default (true): with it
        # false, AQE coalesces every shuffle toward the 64MB advisory
        # size, and any stage whose shuffle volume is under ~64MB x
        # cores runs on a fraction of the machine — measured 6x slower
        # at 10x sf0.1 (6M rows -> 2-3 post-shuffle partitions on 32
        # cores) and ~1.4x slower even at sf0.1, refuting the r5-era
        # "-28% floor" reading (SCALETREND_r8.json). On a
        # real cluster advisory-size coalescing only pays once shuffle
        # volume >> advisory x slots; set it per-job there, not here.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver fixtures are pandas-written TIMESTAMP(MICROS) without
        # UTC-adjustment; Spark 4 would infer TIMESTAMP_NTZ, which
        # watermarks/windows reject. Read them as TIMESTAMP — with the
        # UTC session timezone the values match the naive oracles.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Spark's default 10MB, kept deliberately (r9): the engine-run
        # sessions briefly shipped 64MB, which let a 7.5M-row
        # fact-growing dim broadcast at 50x sf0.1 — the single-threaded
        # broadcast build measured 5.0s vs 1.8s for the parallel
        # shuffled-hash/sort-merge join of the same query
        # (probe_cycle_plan_r10.json). Genuine dims (region, nation,
        # customer, sf0.1 orders) are all under 10MB and still
        # broadcast; anything bigger builds its hash table in parallel
        # on the executors. The driver's plain session never had the
        # raise, so gate plans already run at 10MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
