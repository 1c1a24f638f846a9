"""Bucketed co-located join test: the join of two tables bucketed on
the join key must plan with ZERO shuffle exchanges, and produce the
same result as the plain join."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture()
def bucket_env(spark, tmp_path):
    # broadcast off so the bucketed join is what gets planned; restore
    # the SESSION's value, not a hardcoded one (the engine threshold is
    # a measured decision pinned by test_session_conf_contract)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    for t in ("li_b", "ord_b", "li_cyc_b", "ord_cyc_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(bucket_env):
    from pyspark.sql import functions as F

    from dagster_etl_spark.sources.bucketed import (
        bucketed_join,
        exchanges_in_plan,
        write_bucketed,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    spark = bucket_env
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )

    plain = li.join(orders, on="l_orderkey")
    assert exchanges_in_plan(plain) >= 2  # both sides shuffle on the key

    write_bucketed(li, "li_b", ["l_orderkey"], num_buckets=4, sort_cols=["l_orderkey"])
    write_bucketed(orders, "ord_b", ["l_orderkey"], num_buckets=4, sort_cols=["l_orderkey"])
    co = bucketed_join(spark, "li_b", "ord_b", on=["l_orderkey"])
    assert exchanges_in_plan(co) == 0  # co-located: no shuffle either side

    # same result as the plain join
    a = plain.groupBy("o_orderpriority").count().collect()
    b = co.groupBy("o_orderpriority").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_cycle_time_join_stats_bucketed_plan_and_values(bucket_env):
    """The r10 scale path for cycle_time_stats (A3): over tables
    bucketed+sorted by the join key, cycle_time_join_stats must plan
    its fact-dim join with NO exchange on either side — the single
    Exchange left is the final tiny group-by — and produce exactly the
    values of the parquet-scan shape (probe_cycle_plan_r10.json:
    1.38x single-process at x100 for this plan)."""
    from dagster_etl_spark.operators.cycle_time import cycle_time_join_stats
    from dagster_etl_spark.sources.bucketed import (
        exchanges_in_plan,
        write_bucketed,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    spark = bucket_env
    li = load_table(spark, SF_SMALL, "lineitem")
    orders = load_table(spark, SF_SMALL, "orders")

    def shape(fact, dim):
        return cycle_time_join_stats(
            fact=fact,
            dim=dim,
            fact_key="l_orderkey",
            dim_key="o_orderkey",
            end_col="l_shipdate",
            start_col="o_orderdate",
            group_cols=("o_orderpriority",),
            fact_filter="l_linestatus = 'F'",
        )

    plain = shape(li, orders)
    assert exchanges_in_plan(plain) >= 2  # unbucketed: both sides shuffle

    # bucket the PROJECTED frames exactly as the probe does: the narrow
    # (key, epoch) projection is what a recurring pipeline would lay out
    write_bucketed(
        li.select("l_orderkey", "l_shipdate", "l_linestatus"),
        "li_cyc_b", ["l_orderkey"], num_buckets=4, sort_cols=["l_orderkey"],
    )
    write_bucketed(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        "ord_cyc_b", ["o_orderkey"], num_buckets=4, sort_cols=["o_orderkey"],
    )
    co = shape(spark.table("li_cyc_b"), spark.table("ord_cyc_b"))
    assert exchanges_in_plan(co) == 1  # ONLY the final 5-group aggregate

    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, co.collect()))
    assert a == b and len(a) > 0


def test_write_bucketed_overwrites_orphaned_location(spark):
    """Regression (r10): a fresh session's catalog has no entry for a
    table whose warehouse directory survived an earlier session (the
    round driver restarts the session every round), and saveAsTable
    then failed with LOCATION_ALREADY_EXISTS instead of overwriting.
    Simulate the orphan by planting a file at the managed location of
    a table the catalog has never seen."""
    from pathlib import Path

    from dagster_etl_spark.sources.bucketed import write_bucketed
    from dagster_etl_spark.sources.fixtures import load_table

    table = "orphan_bkt_t"
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = Path(warehouse.removeprefix("file:")) / table
    try:
        loc.mkdir(parents=True, exist_ok=True)
        (loc / "stale-part.parquet").write_text("not a real parquet")
        assert not spark.catalog.tableExists(table)

        li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey")
        write_bucketed(li, table, ["l_orderkey"], num_buckets=2)
        assert spark.table(table).count() == li.count()
        # and a second overwrite (catalog HAS the table now) still works
        write_bucketed(li.limit(10), table, ["l_orderkey"], num_buckets=2)
        assert spark.table(table).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_rejects_qualified_table_name(spark):
    """r10 ADVICE: the orphan cleanup string-builds the DEFAULT
    database's managed path; db.tbl lives at warehouse/db.db/tbl, so a
    qualified name must be refused instead of risking a wrong-path
    delete."""
    import pytest

    from dagster_etl_spark.sources.bucketed import write_bucketed
    from dagster_etl_spark.sources.fixtures import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey")
    with pytest.raises(ValueError, match="unqualified"):
        write_bucketed(li, "somedb.bkt_t", ["l_orderkey"], num_buckets=2)


def test_write_bucketed_refuses_external_table_overwrite(spark, tmp_path):
    """r10 ADVICE resolved the table's real location before cleanup;
    r11 ADVICE tightened it: for an EXTERNAL table, DROP TABLE
    deliberately preserves the data, so overwrite must REFUSE rather
    than silently delete data outside the warehouse. Both the external
    data and any unrelated directory at the default managed path must
    survive the refused call; after the caller drops the external
    table explicitly, the overwrite proceeds onto the managed path."""
    import shutil
    from pathlib import Path

    from dagster_etl_spark.sources.bucketed import write_bucketed
    from dagster_etl_spark.sources.fixtures import load_table

    table = "custom_loc_bkt_t"
    custom = tmp_path / "elsewhere" / table
    decoy = None
    try:
        li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey")
        li.limit(5).write.option("path", str(custom)).saveAsTable(table)
        # plant a decoy at the DEFAULT managed path too: neither the
        # external location nor this innocent directory may be touched
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        decoy = Path(warehouse.removeprefix("file:")) / table
        decoy.mkdir(parents=True, exist_ok=True)
        (decoy / "innocent.txt").write_text("unrelated data")

        with pytest.raises(ValueError, match="EXTERNAL"):
            write_bucketed(li.limit(10), table, ["l_orderkey"], num_buckets=2)
        assert custom.exists(), "refused overwrite deleted external data"
        assert (decoy / "innocent.txt").exists(), "cleanup touched the decoy"
        assert spark.table(table).count() == 5, "external table was dropped"

        # explicit drop (data preserved, per external semantics) + a
        # free managed destination -> the same overwrite succeeds
        spark.sql(f"DROP TABLE {table}")
        assert custom.exists()
        shutil.rmtree(decoy)
        write_bucketed(li.limit(10), table, ["l_orderkey"], num_buckets=2)
        assert spark.table(table).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if decoy is not None and decoy.exists():
            shutil.rmtree(decoy, ignore_errors=True)
        shutil.rmtree(custom, ignore_errors=True)


def test_bucketed_pipeline_append_stays_exchange_free(bucket_env):
    """r10 verdict task 4: the one-time bucket-write claim must
    survive a daily cadence. Init the pipeline on the first half of
    orders/lineitem (split by date), append the rest in two daily
    slices, and assert (a) appended reads see every row, (b) the
    fact-dim join plans with ZERO exchanges after the appends, (c)
    values match the plain join of the full tables."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.sources.bucketed import (
        BucketedPipeline,
        bucket_spec,
        exchanges_in_plan,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    spark = bucket_env
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    cut1, cut2 = "1994-01-01", "1996-01-01"

    pipe = BucketedPipeline(
        spark, "pipe_t", fact_key="l_orderkey", dim_key="o_orderkey", num_buckets=4
    )
    try:
        pipe.load_full(
            li.filter(F.col("l_shipdate") < cut1),
            orders.filter(F.col("o_orderdate") < cut1),
        )
        # two "daily" increments — only the new slices are hashed
        pipe.append(
            fact=li.filter((F.col("l_shipdate") >= cut1) & (F.col("l_shipdate") < cut2)),
            dim=orders.filter(
                (F.col("o_orderdate") >= cut1) & (F.col("o_orderdate") < cut2)
            ),
        )
        pipe.append(
            fact=li.filter(F.col("l_shipdate") >= cut2),
            dim=orders.filter(F.col("o_orderdate") >= cut2),
        )

        # (a) appends accumulated every row; spec unchanged
        assert spark.table(pipe.fact_table).count() == li.count()
        assert spark.table(pipe.dim_table).count() == orders.count()
        assert bucket_spec(spark, pipe.fact_table) == (
            4,
            ["l_orderkey"],
            ["l_orderkey"],
        )

        # (b) the join is STILL exchange-free with multi-file buckets
        joined = pipe.join()
        assert exchanges_in_plan(joined) == 0

        # (c) same values as the plain (shuffling) join
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        a = sorted(
            map(tuple, plain.groupBy("o_orderpriority").count().collect())
        )
        b = sorted(
            map(tuple, joined.groupBy("o_orderpriority").count().collect())
        )
        assert a == b and len(a) == 5
    finally:
        for t in (pipe.fact_table, pipe.dim_table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_bucketed_requires_existing_bucketed_table(spark):
    from dagster_etl_spark.sources.bucketed import append_bucketed
    from dagster_etl_spark.sources.fixtures import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey")
    with pytest.raises(ValueError, match="does not exist"):
        append_bucketed(li, "never_created_bkt_t")

    # a plain (non-bucketed) table is also refused — appending
    # unbucketed rows would silently break the co-location contract
    try:
        li.limit(5).write.saveAsTable("plain_unbkt_t")
        with pytest.raises(ValueError, match="not bucketed"):
            append_bucketed(li, "plain_unbkt_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS plain_unbkt_t")


def test_compact_bucketed_collapses_append_files(bucket_env):
    """Daily appends accumulate up to num_buckets files each;
    compact_bucketed must collapse them (fewer files), keep the spec
    (joins stay exchange-free), and preserve every row."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.sources.bucketed import (
        BucketedPipeline,
        bucket_spec,
        compact_bucketed,
        exchanges_in_plan,
    )
    from dagster_etl_spark.sources.fixtures import load_table

    spark = bucket_env
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    pipe = BucketedPipeline(
        spark, "cpt_t", fact_key="l_orderkey", dim_key="o_orderkey", num_buckets=4
    )
    try:
        cut1, cut2 = "1994-01-01", "1996-01-01"
        pipe.load_full(
            li.filter(F.col("l_shipdate") < cut1),
            orders.filter(F.col("o_orderdate") < cut1),
        )
        pipe.append(
            fact=li.filter(
                (F.col("l_shipdate") >= cut1) & (F.col("l_shipdate") < cut2)
            )
        )
        pipe.append(fact=li.filter(F.col("l_shipdate") >= cut2))
        n_rows = spark.table(pipe.fact_table).count()

        before, after = compact_bucketed(spark, pipe.fact_table)
        assert after < before, (before, after)
        assert after <= 4  # one file per bucket after the rewrite
        assert spark.table(pipe.fact_table).count() == n_rows
        assert bucket_spec(spark, pipe.fact_table) == (
            4,
            ["l_orderkey"],
            ["l_orderkey"],
        )
        assert exchanges_in_plan(pipe.join()) == 0
        # the staged copy was renamed into place, not left beside it
        assert not spark.sql(f"SHOW TABLES LIKE '{pipe.fact_table}_*'").collect()
    finally:
        for t in (pipe.fact_table, pipe.dim_table):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
