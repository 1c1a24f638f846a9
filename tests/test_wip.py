"""Unit tests for WIP operators (SURVEY A1/A2/A7/J1) on tiny frames,
covering the pandas-parity edges from FIXTURES.md §6."""

from __future__ import annotations

from pyspark.sql import Row

from dagster_etl_spark.operators.wip import (
    priority_wip_aggregate,
    priority_wip_join,
    wip_aggregate,
)


def lots(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                lot_id=r[0],
                product_code=r[1],
                process_step=r[2],
                quantity=float(r[3]),
                status=r[4],
                priority=r[5] if len(r) > 5 else None,
            )
            for r in rows
        ]
    )


BASE = [
    ("L1", "P1", "S1", 10, "IN_PROGRESS", "HIGH"),
    ("L2", "P1", "S1", 20, "COMPLETED", "LOW"),
    ("L2", "P1", "S1", 5, "COMPLETED", "HIGH"),  # same lot twice
    ("L3", "P1", "S1", 7, "HOLD", "HIGH"),  # filtered out
    ("L4", "P2", "S1", 40, "IN_PROGRESS", None),
    ("L5", None, "S1", 99, "COMPLETED", "HIGH"),  # null group key -> dropped
]


def test_wip_aggregate_matches_pandas_semantics(spark):
    out = wip_aggregate(lots(spark, BASE)).orderBy("process_step", "product_code")
    rows = {(r.process_step, r.product_code): r for r in out.collect()}
    assert set(rows) == {("S1", "P1"), ("S1", "P2")}  # null key dropped, HOLD filtered
    r = rows[("S1", "P1")]
    assert r.wip_qty == 35.0
    assert r.lot_count == 2  # distinct lots L1, L2
    assert abs(r.avg_qty_per_lot - 35.0 / 3) < 1e-12
    assert rows[("S1", "P2")].lot_count == 1


def test_priority_wip_single_pass_equals_join_variant(spark):
    df = lots(spark, BASE)
    kw = dict(
        group_cols=("process_step", "product_code"),
        qty_col="quantity",
        lot_col="lot_id",
        status_col="status",
        active_statuses=("IN_PROGRESS", "COMPLETED"),
    )
    a = priority_wip_aggregate(df, priority_col="priority", **kw)
    b = priority_wip_join(df, group_cols=kw.pop("group_cols"), priority_col="priority", **kw)
    ka = {tuple(r) for r in a.collect()}
    kb = {tuple(r) for r in b.collect()}
    assert ka == kb
    r = {(x.process_step, x.product_code): x for x in a.collect()}[("S1", "P1")]
    assert r.high_priority_count == 2  # HOLD row excluded


def test_priority_wip_missing_priority_column(spark):
    df = lots(spark, BASE).drop("priority")
    out = priority_wip_aggregate(df, priority_col="priority")
    assert all(r.high_priority_count == 0 for r in out.collect())


def test_wip_aggregate_empty_input(spark):
    df = lots(spark, BASE).filter("quantity < 0")
    assert wip_aggregate(df).count() == 0


def test_sql_literal_helpers_guard_edges(spark):
    """r18 ADVICE: sql_in_list with no values must plan (and match
    nothing) like the isin([]) form it replaced, not emit the parse
    error 'IN ()'; sql_str_literal must refuse backslash values it
    cannot render portably (Spark parses \\ as an escape, ANSI engines
    do not)."""
    import pytest

    from dagster_etl_spark.functions import sql_in_list, sql_str_literal

    assert wip_aggregate(lots(spark, BASE), active_statuses=()).count() == 0
    assert sql_in_list("`s`", ()) == "(1 = 0)"
    assert sql_str_literal("it's") == "'it''s'"
    with pytest.raises(ValueError, match="backslash"):
        sql_str_literal("A\\nB")


def test_snapshot_date_literal(spark):
    out = wip_aggregate(lots(spark, BASE), snapshot_date="2026-08-13")
    assert out.select("snapshot_date").distinct().collect()[0][0] == "2026-08-13"


def test_twostage_money_sums_equals_single_stage(spark):
    """The overflow-safe two-stage merge must be bit-identical to the
    single-stage fixed-point sum (exact integer addition is
    associative across the partition split)."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.functions import money_sum, twostage_money_sums
    from dagster_etl_spark.sources.fixtures import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").repartition(7)
    one = {
        (r.l_returnflag, r.l_linestatus): (r.s, r.n)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(money_sum("l_quantity", "s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    two = {
        (r.l_returnflag, r.l_linestatus): (r.s, r.n)
        for r in twostage_money_sums(
            li, keys=["l_returnflag", "l_linestatus"],
            money={"s": ("l_quantity", 2)}, count_alias="n",
        ).collect()
    }
    assert one == two  # exact float equality included


def test_wip_exact_plan_one_exchange_and_equivalence(spark):
    """The exact-distinct path must plan exactly ONE shuffle Exchange
    (repartition by group keys feeds both aggregation phases
    exchange-free), and its results must equal a planned
    ``groupBy`` + ``countDistinct`` aggregate bit for bit."""
    from pyspark.sql import functions as F

    from dagster_etl_spark.functions import exact_avg, money_sum
    from dagster_etl_spark.sources.fixtures import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    one = wip_aggregate(
        li, group_cols=("l_linestatus", "l_suppkey"), qty_col="l_quantity",
        lot_col="l_orderkey", status_col="l_returnflag",
        active_statuses=("N", "A"),
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BatchEvalPython") == 0
    ref = (
        li.filter("l_returnflag IN ('N', 'A')")
        .groupBy("l_linestatus", "l_suppkey")
        .agg(
            money_sum("`l_quantity`", "wip_qty"),
            F.countDistinct("l_orderkey").alias("lot_count"),
            exact_avg("`l_quantity`", "avg_qty_per_lot"),
        )
    )
    key = lambda r: (r.l_linestatus, r.l_suppkey)  # noqa: E731
    a = {key(r): (r.wip_qty, r.lot_count, r.avg_qty_per_lot) for r in one.collect()}
    b = {key(r): (r.wip_qty, r.lot_count, r.avg_qty_per_lot) for r in ref.collect()}
    assert a == b and len(a) > 0


def test_wip_family_builds_launch_no_jobs(spark):
    """Building a WIP-family registry query or transfer is plan
    construction only: the exact plan is fixed, so no build-time job
    looks at the data to choose one."""
    import dagster_etl_spark.tenants.project_01  # noqa: F401 — registers plugins
    from dagster_etl_spark.orchestration.transfers import (
        priority_wip_transfer,
        wip_transfer,
    )
    from dagster_etl_spark.registry import queries
    from dagster_etl_spark.sources.fixtures import load_table

    sf = "/root/testdata/sf0.001"
    li, orders = load_table(spark, sf, "lineitem"), load_table(spark, sf, "orders")
    qs = queries()
    builds = {
        name: (lambda name=name: qs[name](spark, sf))
        for name in (
            "wip_aggregate", "wip_aggregate_approx", "priority_wip",
            "priority_wip_approx", "priority_wip_join",
        )
    }
    builds["wip_transfer"] = lambda: wip_transfer({"lot_history": li}, "d", "t")
    builds["priority_wip_transfer"] = lambda: priority_wip_transfer(
        {"lot_history": li, "orders_dim": orders}, "d", "t"
    )
    tracker = spark.sparkContext.statusTracker()
    last_job = lambda: max(tracker.getJobIdsForGroup(None) or [-1])  # noqa: E731
    for name, build in builds.items():
        before = last_job()
        build()
        assert last_job() == before, f"building {name} launched a Spark job"


def test_approx_bench_queries_bound_checked_vs_exact(spark):
    """The r8 benched default (`*_approx`) has no hashable oracle, so
    THIS is its correctness gate: every non-distinct column must equal
    the exact hash-verified twin bit-for-bit, and the HLL lot_count
    must sit within 3x the default 5% relative standard deviation."""
    from dagster_etl_spark.registry import queries

    qs = queries()
    sf = "/root/testdata/sf0.01"
    for approx_name, exact_name in (
        ("wip_aggregate_approx", "wip_aggregate"),
        ("priority_wip_approx", "priority_wip"),
    ):
        exact = {
            (r.l_linestatus, r.l_suppkey): r.asDict()
            for r in qs[exact_name](spark, sf).collect()
        }
        got = {
            (r.l_linestatus, r.l_suppkey): r.asDict()
            for r in qs[approx_name](spark, sf).collect()
        }
        assert set(got) == set(exact) and len(got) > 0, approx_name
        for key, a in got.items():
            e = exact[key]
            assert abs(a["lot_count"] - e["lot_count"]) <= max(
                1, 0.15 * e["lot_count"]
            ), (approx_name, key, a["lot_count"], e["lot_count"])
            for col in set(a) - {"lot_count"}:
                assert a[col] == e[col], (approx_name, key, col)


def test_priority_wip_split_equals_inner_forms_under_ri(spark):
    """The r9 split shape (join-free main aggregate + narrow urgent
    count) must equal the inner-join form (``priority_wip_aggregate``
    over the fact joined to the dim) whenever referential integrity
    holds — the documented precondition. Also pins the
    divergence WITHOUT RI: split keeps an orphan lot that the inner
    form drops, so this test is the executable form of the operator's
    precondition docs."""
    from dagster_etl_spark.operators.wip import priority_wip_split

    rows = [
        ("A", "p1", 10, 2.0, "IN_PROGRESS"),
        ("A", "p1", 10, 3.0, "IN_PROGRESS"),
        ("A", "p1", 11, 5.0, "COMPLETED"),
        ("B", "p2", 12, 7.0, "IN_PROGRESS"),
        ("B", "p2", 12, 4.0, "SCRAPPED"),  # filtered by status
    ]
    df = spark.createDataFrame(
        rows,
        "process_step string, product_code string, lot_id int, "
        "quantity double, status string",
    )
    dim = spark.createDataFrame(
        [(10, "HIGH"), (11, "LOW"), (12, "HIGH")], "lot_key int, priority string"
    )
    key = lambda r: (r.process_step, r.product_code)  # noqa: E731
    vals = lambda out: {  # noqa: E731
        key(r): (r.wip_qty, r.lot_count, r.avg_qty_per_lot, r.high_priority_count)
        for r in out.collect()
    }
    inner_form = lambda fact: priority_wip_aggregate(  # noqa: E731
        fact.join(dim, fact.lot_id == dim.lot_key)
    )
    split = vals(priority_wip_split(df, dim, dim_key="lot_key"))
    inner = vals(inner_form(df))
    assert split == inner

    # orphan lot (99 absent from dim): split keeps it in the quantity
    # aggregates with a 0 priority contribution; the inner form drops it
    df_orphan = df.unionByName(
        spark.createDataFrame(
            [("B", "p2", 99, 1.0, "IN_PROGRESS")], df.schema.simpleString()[7:-1]
        )
    )
    s = vals(priority_wip_split(df_orphan, dim, dim_key="lot_key"))
    i = vals(inner_form(df_orphan))
    assert s[("B", "p2")][0] == 8.0 and s[("B", "p2")][1] == 2
    assert i[("B", "p2")][0] == 7.0 and i[("B", "p2")][1] == 1
    assert s[("A", "p1")] == i[("A", "p1")]


def test_priority_wip_split_no_urgent_and_approx_parity(spark):
    """Groups with zero HIGH lots must come back with count 0 (left
    graft + coalesce), and the approx form must agree with the exact
    split on every non-approx column."""
    from dagster_etl_spark.operators.wip import priority_wip_split

    df = spark.createDataFrame(
        [("A", "p1", 10, 2.0, "IN_PROGRESS"), ("B", "p2", 11, 3.0, "COMPLETED")],
        "process_step string, product_code string, lot_id int, "
        "quantity double, status string",
    )
    dim = spark.createDataFrame(
        [(10, "LOW"), (11, "LOW")], "lot_key int, priority string"
    )
    out = {r.process_step: r for r in priority_wip_split(df, dim, dim_key="lot_key").collect()}
    assert out["A"].high_priority_count == 0 and out["B"].high_priority_count == 0
    approx = {
        r.process_step: r
        for r in priority_wip_split(
            df, dim, dim_key="lot_key", approx_distinct=True
        ).collect()
    }
    for k, r in out.items():
        assert approx[k].wip_qty == r.wip_qty
        assert approx[k].avg_qty_per_lot == r.avg_qty_per_lot
        assert approx[k].high_priority_count == r.high_priority_count
