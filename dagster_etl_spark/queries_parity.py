"""Parity queries — the reference's transform suite re-expressed on the
driver fixture tables (mapping per FIXTURES.md: lineitem ≈ lot_history,
events ≈ equipment_event, part ≈ cfg_item_master, orders carries the
priority/date attributes).

Each query has a DuckDB oracle producing the identical frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dagster_etl_spark.operators.cycle_time import cycle_time_join_stats
from dagster_etl_spark.operators.equipment import equipment_utilization
from dagster_etl_spark.operators.item_master import enrich_item_master, stage_item_master
from dagster_etl_spark.operators.wip import (
    priority_wip_join,
    priority_wip_split,
    wip_aggregate,
)
from dagster_etl_spark.registry import register
from dagster_etl_spark.sources.fixtures import load_table

# ---------------------------------------------------------------------------
# A1/A2 — WIP aggregation (reference: etl/common/assets/transfer.py:14-65)

_WIP_ORACLE = """
SELECT
  l_linestatus,
  l_suppkey,
  CAST(SUM(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS wip_qty,
  COUNT(DISTINCT l_orderkey) AS lot_count,
  CAST(SUM(CAST(round((l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(l_quantity)
    AS avg_qty_per_lot
FROM lineitem
WHERE l_returnflag IN ('N', 'A')
GROUP BY l_linestatus, l_suppkey
"""


@register(
    "wip_aggregate",
    oracle=_WIP_ORACLE,
    tags=("parity", "agg"),
    doc="A1/A2: status filter -> groupBy -> sum/countDistinct/avg.",
)
def q_wip_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return wip_aggregate(
        li,
        group_cols=("l_linestatus", "l_suppkey"),
        qty_col="l_quantity",
        lot_col="l_orderkey",
        status_col="l_returnflag",
        active_statuses=("N", "A"),
    )


@register(
    "wip_aggregate_approx",
    oracle=None,  # HLL estimates cannot hash-match a foreign engine
    tags=("parity", "agg", "bench", "approx"),
    doc="A1/A2 on the contractual scale path: approx_count_distinct "
    "replaces the exact lot count, turning the two-phase distinct into "
    "ONE partial-aggregating pass whose exchange carries per-group HLL "
    "sketches instead of (group, lot) tuples. This is the benched "
    "default for count-distinct rollups (SCALETREND_r8.json: the "
    "exact form plateaus ~5x a single-process engine at 10-50x data; "
    "the estimator is bound-checked against the exact count in "
    "tests/test_wip.py). The exact form stays registered and "
    "hash-verified as `wip_aggregate`.",
)
def q_wip_aggregate_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return wip_aggregate(
        li,
        group_cols=("l_linestatus", "l_suppkey"),
        qty_col="l_quantity",
        lot_col="l_orderkey",
        status_col="l_returnflag",
        active_statuses=("N", "A"),
        approx_distinct=True,
    )


# ---------------------------------------------------------------------------
# A7 — single-pass priority WIP (reference: project_01/assets/transfer.py:14-91)

_PRIORITY_WIP_ORACLE = """
SELECT
  l.l_linestatus,
  l.l_suppkey,
  CAST(SUM(CAST(round((l.l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS wip_qty,
  COUNT(DISTINCT l.l_orderkey) AS lot_count,
  CAST(SUM(CAST(round((l.l_quantity) * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(l.l_quantity)
    AS avg_qty_per_lot,
  CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT)
    AS high_priority_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag IN ('N', 'A')
GROUP BY l.l_linestatus, l.l_suppkey
"""


def _lineitem_with_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


@register(
    "priority_wip",
    oracle=_PRIORITY_WIP_ORACLE,
    tags=("parity", "agg", "join"),
    doc="A7 split shape (r9): the fact never joins the full dim — "
    "join-free WIP aggregate + urgent count over a narrow (group, lot) "
    "projection vs the 1/5-size urgent dim slice, grafted exchange-free "
    "on the shared group partitioning. RI precondition documented on "
    "priority_wip_split; the inner-join form stays registered as "
    "priority_wip_join.",
)
def q_priority_wip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return priority_wip_split(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        dim_key="o_orderkey",
        priority_col="o_orderpriority",
        high_value="1-URGENT",
        group_cols=("l_linestatus", "l_suppkey"),
        qty_col="l_quantity",
        lot_col="l_orderkey",
        status_col="l_returnflag",
        active_statuses=("N", "A"),
    )


@register(
    "priority_wip_approx",
    oracle=None,  # HLL estimates cannot hash-match a foreign engine
    tags=("parity", "agg", "join", "bench", "approx"),
    doc="A7 on the contractual scale path, split shape (r9): join-free "
    "approx WIP aggregate (map-side sketch partials, one exchange) + "
    "the urgent count's narrow join, grafted on group keys. The r8 "
    "join-then-aggregate shape measured 4.6x single-process DuckDB at "
    "30M rows because every fact row crossed the dim join before any "
    "partial aggregation; splitting restores the join-free profile "
    "(probe_priority_plan_r9; shipped-config trend SCALETREND_r9: "
    "4.3x -> 2.07x -> 1.42x DuckDB-exact at x10/x50/x100). Benched "
    "default per the r8 decision rule; exact twin stays hash-verified "
    "as `priority_wip`.",
)
def q_priority_wip_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return priority_wip_split(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        dim_key="o_orderkey",
        priority_col="o_orderpriority",
        high_value="1-URGENT",
        group_cols=("l_linestatus", "l_suppkey"),
        qty_col="l_quantity",
        lot_col="l_orderkey",
        status_col="l_returnflag",
        active_statuses=("N", "A"),
        approx_distinct=True,
    )


@register(
    "priority_wip_join",
    oracle=_PRIORITY_WIP_ORACLE,
    tags=("parity", "agg", "join"),
    doc="A7/J1 reference-shaped variant: separate priority agg left-joined "
    "(broadcast) onto the WIP aggregate; same result as priority_wip.",
)
def q_priority_wip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return priority_wip_join(
        _lineitem_with_priority(spark, sf_dir),
        priority_col="o_orderpriority",
        high_value="1-URGENT",
        group_cols=("l_linestatus", "l_suppkey"),
        qty_col="l_quantity",
        lot_col="l_orderkey",
        status_col="l_returnflag",
        active_statuses=("N", "A"),
    )


# ---------------------------------------------------------------------------
# A3 + F1/F2 — cycle time (reference: etl/common/assets/transfer.py:68-126)

_CYCLE_ORACLE = """
SELECT
  o.o_orderpriority,
  CAST(SUM(date_diff('second', o.o_orderdate, l.l_shipdate)) AS DOUBLE)
    / COUNT(*) / 60.0 AS avg_cycle_time,
  MIN(date_diff('second', o.o_orderdate, l.l_shipdate)) / 60.0 AS min_cycle_time,
  MAX(date_diff('second', o.o_orderdate, l.l_shipdate)) / 60.0 AS max_cycle_time,
  COUNT(*) AS lot_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_linestatus = 'F'
GROUP BY o.o_orderpriority
"""


@register(
    "cycle_time_stats",
    oracle=_CYCLE_ORACLE,
    tags=("parity", "agg", "join", "bench"),
    doc="A3: avg/min/max cycle minutes per group; aggregates exact integer "
    "seconds so the result is order-independent under partial aggregation.",
)
def q_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10: the narrow pre-join shape (filter + epoch-int projection on
    # BOTH sides before the join) — 2.6x faster than the scan-grain
    # join at x100 and the same plan the bucketed layout runs
    # exchange-free; see cycle_time_join_stats' docstring for the
    # probe table (probe_cycle_plan_r10.json)
    return cycle_time_join_stats(
        fact=load_table(spark, sf_dir, "lineitem"),
        dim=load_table(spark, sf_dir, "orders"),
        fact_key="l_orderkey",
        dim_key="o_orderkey",
        end_col="l_shipdate",
        start_col="o_orderdate",
        group_cols=("o_orderpriority",),
        fact_filter="l_linestatus = 'F'",
    )


@register(
    "cycle_time_stats_bucketed",
    oracle=_CYCLE_ORACLE,
    tags=("parity", "agg", "join", "layout"),
    doc="A3 over the recurring-pipeline layout: lineitem/orders "
    "bucketed+sorted by orderkey so the fact-dim join plans with zero "
    "exchanges (the scale path measured at 1.38x @60M / 1.32x @120M "
    "single-process, probe_cycle_plan_r10.json). Same oracle as "
    "cycle_time_stats - layout must not change values.",
)
def q_cycle_time_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed layout as a first-class, hash-gated query: the
    bucket write (the one-time cost a recurring pipeline pays at load
    time) happens inside the query so the driver verifies the WHOLE
    path - write_bucketed -> catalog read -> exchange-free join ->
    aggregate - not just the join on a pre-built fixture. Broadcast
    stays at the session default: at driver scale the dim broadcasts
    (1 exchange); at scale the bucketed SMJ takes over with 0 - both
    plans are value-identical (asserted in tests/test_bucketed.py)."""
    import hashlib

    from dagster_etl_spark.sources.bucketed import write_bucketed

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li_t, ord_t = f"cyc_li_bkt_{sfx}", f"cyc_ord_bkt_{sfx}"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    # overwrite each call: correctness surface, so staleness beats
    # speed - the write cost is the layout's documented one-time price
    write_bucketed(li, li_t, ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"])
    write_bucketed(
        orders, ord_t, ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"]
    )
    return cycle_time_join_stats(
        fact=spark.table(li_t),
        dim=spark.table(ord_t),
        fact_key="l_orderkey",
        dim_key="o_orderkey",
        end_col="l_shipdate",
        start_col="o_orderdate",
        group_cols=("o_orderpriority",),
        fact_filter="l_linestatus = 'F'",
    )


@register(
    "cycle_time_stats_incremental",
    oracle=_CYCLE_ORACLE,
    tags=("parity", "agg", "join", "layout", "incremental"),
    doc="A3 over the INCREMENTALLY-maintained bucketed layout "
    "(sources/bucketed.py BucketedPipeline): initial load on the first "
    "date half, two daily appends for the rest - only new slices are "
    "hashed, the join stays exchange-free, values identical to the "
    "full-rewrite layout. Same oracle as cycle_time_stats.",
)
def q_cycle_time_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-cadence layout as a hash-gated query (r10 verdict
    task 4): a recurring pipeline can't afford a full bucket rewrite
    per day (the reference appends one date=YYYYMMDD slice per run,
    etl/resources/s3.py:139-151), so the engine surface is
    BucketedPipeline.load_full + .append. The driver verifies the
    WHOLE incremental path - init write, two appends, catalog read,
    join, aggregate - hashes identical to the plain-join oracle."""
    import hashlib

    from pyspark.sql import functions as F

    from dagster_etl_spark.sources.bucketed import BucketedPipeline

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    pipe = BucketedPipeline(
        spark, f"cyc_inc_{sfx}", fact_key="l_orderkey", dim_key="o_orderkey"
    )
    # rebuilt from scratch each call: correctness surface, so staleness
    # beats speed (same discipline as cycle_time_stats_bucketed). The
    # date splits model three ingest days; every lineitem/orders row
    # lands in exactly one slice.
    cut1, cut2 = "1994-01-01", "1996-01-01"
    pipe.load_full(
        li.filter(F.col("l_shipdate") < cut1),
        orders.filter(F.col("o_orderdate") < cut1),
    )
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
    return cycle_time_join_stats(
        fact=spark.table(pipe.fact_table),
        dim=spark.table(pipe.dim_table),
        fact_key="l_orderkey",
        dim_key="o_orderkey",
        end_col="l_shipdate",
        start_col="o_orderdate",
        group_cols=("o_orderpriority",),
        fact_filter="l_linestatus = 'F'",
    )


# ---------------------------------------------------------------------------
# A4/A5/A6 — equipment pivot (reference: etl/common/assets/transfer.py:129-174)

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_PIVOT_ORACLE = """
SELECT
  user_id % 50 AS equipment_id,
  COALESCE(CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(round((value) * 1000000) AS BIGINT) END) AS DOUBLE) / 1000000.0, 0.0) AS click,
  COALESCE(CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(round((value) * 1000000) AS BIGINT) END) AS DOUBLE) / 1000000.0, 0.0) AS error,
  COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round((value) * 1000000) AS BIGINT) END) AS DOUBLE) / 1000000.0, 0.0) AS purchase,
  COALESCE(CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(round((value) * 1000000) AS BIGINT) END) AS DOUBLE) / 1000000.0, 0.0) AS signup,
  COALESCE(CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(round((value) * 1000000) AS BIGINT) END) AS DOUBLE) / 1000000.0, 0.0) AS view,
  COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round((value) * 1000000) AS BIGINT) END) AS DOUBLE) / 1000000.0, 0.0)
    / 1440.0 * 100.0 AS utilization_rate
FROM events
GROUP BY user_id % 50
"""


@register(
    "equipment_pivot",
    oracle=_PIVOT_ORACLE,
    tags=("parity", "pivot", "bench"),
    doc="A4+A5+A6: sum-per-type pivoted wide with a fixed value list "
    "(deterministic columns, no distinct-collection job) + derived rate.",
)
def q_equipment_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "equipment_id", F.col("user_id") % 50
    )
    return equipment_utilization(
        ev,
        equipment_col="equipment_id",
        type_col="event_type",
        duration_col="value",
        event_types=_EVENT_TYPES,
        rate_numerator="purchase",
        rate_denominator_minutes=1440.0,
        rate_round=None,
    )


# ---------------------------------------------------------------------------
# P4/P6-P9 — item master staging + enrichment (reference dbt models:
# stg_cfg_item_master.sql, tfm_item_master_enriched.sql)

_ITEM_ORACLE = """
SELECT
  CAST(p_partkey AS VARCHAR) AS item_id,
  COALESCE(p_type, 'UNKNOWN') AS item_type,
  COALESCE(p_name, '') AS item_name,
  CAST(COALESCE(p_size, 0) AS INTEGER) AS item_priority,
  p_brand,
  p_retailprice,
  CASE
    WHEN COALESCE(p_size, 0) >= 40 THEN 'HIGH'
    WHEN COALESCE(p_size, 0) >= 20 THEN 'MEDIUM'
    ELSE 'LOW'
  END AS priority_category,
  (p_type IS NOT NULL AND p_type <> '') AS is_manufactured
FROM part
"""


@register(
    "item_master_enrich",
    oracle=_ITEM_ORACLE,
    tags=("parity", "project"),
    doc="P4/P6-P9: null-coalescing staging + CASE bucketing + boolean flag "
    "(the reference's two dbt models as Catalyst expressions).",
)
def q_item_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    staged = stage_item_master(
        part,
        item_id="p_partkey",
        item_type="p_type",
        item_name="p_name",
        item_priority="p_size",
    )
    return enrich_item_master(
        staged, prod_type_col="item_type", high_threshold=40, medium_threshold=20
    )


_UNPIVOT_ORACLE = """
WITH base AS (
  SELECT user_id % 50 AS equipment_id, event_type,
         CAST(round(value * 1000000) AS BIGINT) AS v
  FROM events WHERE user_id IS NOT NULL
), grid AS (
  SELECT e.equipment_id, t.event_type
  FROM (SELECT DISTINCT equipment_id FROM base) e
  CROSS JOIN (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view'))
       AS t(event_type)
), agg AS (
  SELECT equipment_id, event_type, CAST(SUM(v) AS DOUBLE) / 1000000.0 AS m
  FROM base GROUP BY 1, 2
)
SELECT g.equipment_id, g.event_type,
       COALESCE(a.m, 0.0) AS total_minutes
FROM grid g LEFT JOIN agg a USING (equipment_id, event_type)
"""


@register(
    "equipment_unpivot",
    oracle=_UNPIVOT_ORACLE,
    tags=("parity", "pivot"),
    doc="UNPIVOT (melt) — the inverse of A5: the wide per-type duration "
    "frame back to long (equipment, event_type, total_minutes) rows "
    "via DataFrame.unpivot (Spark's native UNPIVOT plan, no explode "
    "of hand-built structs); zero-filled cells survive the round "
    "trip, matching the dense grid oracle.",
)
def q_equipment_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "equipment_id", F.col("user_id") % 50
    )
    wide = equipment_utilization(
        ev,
        equipment_col="equipment_id",
        type_col="event_type",
        duration_col="value",
        event_types=_EVENT_TYPES,
        rate_numerator="purchase",
        rate_denominator_minutes=1440.0,
        rate_round=None,
    ).drop("utilization_rate")
    return wide.unpivot(
        ["equipment_id"], list(_EVENT_TYPES), "event_type", "total_minutes"
    )
