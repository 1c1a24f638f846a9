"""Tests for the partition calendar / backfill reconciliation and the
skew helpers (salted join/groupby equivalence, approx distinct)."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_daily_partition_keys_and_formats():
    from dagster_etl_spark.orchestration.partitions import DailyPartitions

    p = DailyPartitions(start_date="2024-01-01", end_offset=1)
    keys = p.keys(until="2024-01-05")
    assert keys[0] == "2024-01-01" and keys[-1] == "2024-01-05"
    assert len(keys) == 5
    assert DailyPartitions.compact("2024-01-05") == "20240105"
    assert DailyPartitions.expand("20240105") == "2024-01-05"
    # end_offset=1 includes "today" relative to the until date
    assert p.keys(until="2024-01-01") == ["2024-01-01"]


def test_missing_partitions_reconciliation(spark, tmp_path):
    from dagster_etl_spark.orchestration.partitions import (
        DailyPartitions,
        missing_partitions,
    )
    from dagster_etl_spark.sources import lake
    from dagster_etl_spark.sources.fixtures import load_table

    base = str(tmp_path / "lake")
    ev = load_table(spark, SF_SMALL, "events").limit(10)
    for d in ("2024-01-01", "2024-01-03"):
        lake.write_partition(ev, base, "t1", "extract", "events", d)

    p = DailyPartitions(start_date="2024-01-01")
    missing = missing_partitions(
        spark, p, base, "t1", "extract", "events", until="2024-01-04"
    )
    assert missing == ["2024-01-02", "2024-01-04"]


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.skew import salted_join
    from dagster_etl_spark.sources.fixtures import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = li.join(orders, on="l_orderkey").groupBy("o_orderpriority").count()
    salted = salted_join(li, orders, on=["l_orderkey"], salt=4).groupBy(
        "o_orderpriority"
    ).count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join with unmatched rows also preserved
    lonely = spark.createDataFrame([(99999999, 1.0)], ["l_orderkey", "l_quantity"])
    left = salted_join(li.union(lonely), orders, on=["l_orderkey"], how="left")
    assert left.filter("l_orderkey = 99999999").count() == 1


def test_salted_groupby_equals_plain(spark):
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.skew import salted_groupby
    from dagster_etl_spark.sources.fixtures import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    plain = {
        r.l_linestatus: round(r.s, 6)
        for r in li.groupBy("l_linestatus").agg(F.sum("l_quantity").alias("s")).collect()
    }
    salted = {
        r.l_linestatus: round(r.sum_l_quantity, 6)
        for r in salted_groupby(li, ["l_linestatus"], "l_quantity", salt=8).collect()
    }
    assert plain == salted


def _zipf_join_inputs(spark, n_large=4_000_000, n_keys=1_000, hot_pct=9):
    """Pathologically skewed join fixture, fully deterministic (no
    RNG): ``hot_pct``/10 of the large side carries key 0, the rest is
    uniform over 1..n_keys. Small side: one row per key."""
    from pyspark.sql import functions as F

    # v must be incompressible: a constant hot-key partition lz4s to
    # almost nothing and would sit below AQE's skew byte threshold
    large = spark.range(n_large).select(
        F.when(F.col("id") % 10 < hot_pct, F.lit(0))
        .otherwise((F.col("id") % n_keys) + 1)
        .alias("k"),
        ((F.col("id") * 2654435761) % 1000000007).alias("v"),
    )
    small = spark.range(n_keys + 1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    return large, small


def test_salted_join_splits_hot_partition(spark):
    """Scale proof, deterministic form: with a 90%-hot key, the plain
    shuffle puts ~90% of rows in ONE shuffle partition; salting bounds
    the max partition at ~1/salt of that. This is the property that
    keeps a 100 TB join inside executor memory."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.skew import salted_join

    large, small = _zipf_join_inputs(spark, n_large=400_000)
    salt = 8

    def max_partition_rows(df):
        sizes = (
            df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        )
        return max(r["count"] for r in sizes)

    plain = large.repartition(32, "k")
    salted = large.withColumn(
        "_salt", F.floor(F.rand(42) * salt).cast("int")
    ).repartition(32, "k", "_salt")
    plain_max = max_partition_rows(plain)
    salted_max = max_partition_rows(salted)
    assert plain_max >= 0.9 * 400_000  # the hot key owns one partition
    # salt spreads the hot key across `salt` (k, salt) cells; slack
    # covers two cells hash-colliding into one of the 32 partitions
    # (fixed seed + fixed hash -> fully deterministic)
    assert salted_max <= plain_max / salt * 2.5, (plain_max, salted_max)

    # the salt-expansion join shape: small side exploded saltx, join
    # keys are (k, _salt) — and the result still matches the plain join
    out = salted_join(large, small, on=["k"], salt=salt)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "explode" in plan and "_salt" in plan
    got = out.agg(F.sum("w").alias("s")).collect()[0].s
    want = large.join(small, on="k").agg(F.sum("w").alias("s")).collect()[0].s
    assert got == want


def _max_task_shuffle_records(spark, group: str, df) -> int:
    """Run ``df`` to a noop sink under job group ``group`` and return
    the most shuffle records one task read, from Spark's status store.
    Only the join stage reads a shuffle, so this is its hottest task."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store, tracker = jsc.statusStore(), sc.statusTracker()
    most = 0
    for job_id in tracker.getJobIdsForGroup(group):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            attempt = store.lastStageAttempt(stage_id).attemptId()
            tasks = store.taskList(stage_id, attempt, 1 << 30)
            for i in range(tasks.size()):
                metrics = tasks.apply(i).taskMetrics()
                if metrics.isDefined():
                    read = metrics.get().shuffleReadMetrics().recordsRead()
                    most = max(most, read)
    return most


def test_aqe_splits_skewed_join_and_salting_beats_disabled_aqe(spark):
    """Two proofs on the zipf fixture:

    1. AQE (first line of defense, on in session.py) detects the hot
       partition at runtime and splits it — ``skew=true`` in the final
       adaptive sort-merge-join plan;
    2. with AQE's skew handling OFF (the pathological regime salting
       exists for), ``salted_join`` splits the hot key: its hottest
       join task reads a fraction of the rows the plain join's does.
    """
    import re

    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.skew import salted_join

    large, small = _zipf_join_inputs(spark, n_large=4_000_000)
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # force the shuffled-join regime AQE skew-split applies to
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")

        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # aggregate on top so the same QueryExecution can be driven by a
        # 1-row collect (a .write would execute a separate plan object);
        # summing v+w keeps the wide payload un-pruned through the join
        joined = (
            large.join(small, on="k")
            .groupBy()
            .agg(F.sum(F.col("v") + F.col("w")).alias("s"))
        )
        joined.collect()
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]

        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        # With skew handling off, the plain join's hot task reads all
        # ~3.6M hot-key rows. salt=16 spreads them over 16 (k, _salt)
        # cells; on the session's 4 shuffle partitions the fullest one
        # holds 7 of them, measured at 0.44 of the plain maximum (0.45
        # at 8M rows); salt=1 measures 0.98. Record counts do not
        # jitter with host load the way wall-clock medians do.
        plain_max = _max_task_shuffle_records(
            spark, "skew_plain", large.join(small, on="k")
        )
        salted_max = _max_task_shuffle_records(
            spark, "skew_salted", salted_join(large, small, on=["k"], salt=16)
        )
        assert plain_max >= 0.9 * 3_600_000, plain_max
        assert salted_max <= 0.6 * plain_max, (plain_max, salted_max)
        # the salted plan shuffles on the salt column: if _salt drops
        # out of the exchange partitioning, salting is off
        splan = (
            salted_join(large, small, on=["k"], salt=16)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert re.search(r"hashpartitioning\([^)]*_salt", splan), splan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_skewed_keys_and_approx_distinct(spark):
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.skew import skewed_keys
    from dagster_etl_spark.operators.wip import wip_aggregate
    from dagster_etl_spark.sources.fixtures import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    # default path samples (no unconditional full scan); the planted-hot
    # key must still surface, and a generous sample must agree
    hot = skewed_keys(li, ["l_returnflag"], min_share=0.2, sample_fraction=0.5)
    assert "N" in {r.l_returnflag for r in hot.collect()}  # ~half the rows
    exact_hot = skewed_keys(li, ["l_returnflag"], min_share=0.2, sample_fraction=None)
    assert "N" in {r.l_returnflag for r in exact_hot.collect()}

    exact = wip_aggregate(li, group_cols=("l_linestatus",), qty_col="l_quantity",
                          lot_col="l_orderkey", status_col=None)
    approx = wip_aggregate(li, group_cols=("l_linestatus",), qty_col="l_quantity",
                           lot_col="l_orderkey", status_col=None, approx_distinct=True)
    e = {r.l_linestatus: r.lot_count for r in exact.collect()}
    a = {r.l_linestatus: r.lot_count for r in approx.collect()}
    for k in e:
        assert abs(a[k] - e[k]) / e[k] < 0.05  # HLL default rsd
