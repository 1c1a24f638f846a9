"""WIP (work-in-progress) aggregation operators — SURVEY.md §2 A1/A2/A7/J1.

Reference semantics (reference: etl/common/assets/transfer.py:14-65 and
etl/tenants/project_01/assets/transfer.py:14-91): filter active statuses,
group by (process_step, product_code), aggregate qty sum / distinct lot
count / mean qty, optionally graft a HIGH-priority conditional count.

Spark-first notes
-----------------
* One shuffle total: ``wip_aggregate`` has one exact plan (repartition
  by the group keys, then both aggregation phases exchange-free) and
  one approximate plan (``approx_distinct``); the conditional count is
  folded into the same ``groupBy`` as a ``sum(when(...))`` instead of
  the reference's aggregate-then-left-join (the join variant is kept
  for J1 parity and as a broadcast-join test bed).
* pandas ``groupby`` drops null group keys; Spark keeps them. We filter
  null keys to mirror the reference (SURVEY §7.2).
* All aggregates stay in built-in Catalyst expressions: partial (map-side)
  aggregation + whole-stage codegen for free. At 100 TB swap in
  ``approx_count_distinct`` via the ``approx_distinct`` knob.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dagster_etl_spark.functions import (
    exact_avg,
    flag_sql,
    money_sum,
    scaled_long_sql,
    sql_in_list,
)

def wip_aggregate(
    df: DataFrame,
    group_cols: Sequence[str] = ("process_step", "product_code"),
    qty_col: str = "quantity",
    lot_col: str = "lot_id",
    status_col: str | None = "status",
    active_statuses: Sequence[str] = ("IN_PROGRESS", "COMPLETED"),
    snapshot_date: str | None = None,
    approx_distinct: bool = False,
    extra_sums: Sequence[tuple[Column, str]] = (),
) -> DataFrame:
    """A1/A2: status filter -> group -> {sum, distinct count, mean}.

    Two plans. The exact one is a MANUAL two-phase aggregate over ONE
    shuffle: the input is repartitioned by ``group_cols`` first, which
    co-locates every (group, lot) tuple, so the pre-aggregate on
    (group_cols, lot_col) and the final ``count(lot_col)`` per group
    both run exchange-free on top of it — one Exchange total (pinned in
    the plan tests). Against Catalyst's planned distinct aggregate it
    measured ~25% faster at sf0.1, and the one-exchange shape won at
    every probed scale (BASELINE.md, r8 re-audit). With
    ``approx_distinct`` the lot count is ``approx_count_distinct`` in a
    single planned aggregate whose exchange carries per-group sketches.

    Limitation: the exact plan's parallelism after the shuffle is the
    number of groups. A rollup with only a few groups over a large
    input runs its pre-aggregation on that many tasks; use
    ``approx_distinct=True`` there.

    Semantics incl. nulls match ``countDistinct``: ``count(lot_col)``
    skips the null-lot row, while its measure partials still land in
    the sums.

    ``extra_sums`` are (per-row expression, alias) pairs aggregated as
    sums — decomposable across both phases; each expression may be a
    Column or a SQL string (the string form builds in one py4j round
    trip).
    """
    # ONE parsed predicate string for the whole filter block (not one
    # Column op per term): same analyzed tree, a fraction of the py4j
    # round trips, and one DataFrame hop (analysis is eager per hop) —
    # see functions module note (r18). CombineFilters merges stacked
    # filters either way, so the physical plan is unchanged.
    preds = []
    if status_col is not None:
        preds.append(sql_in_list(f"`{status_col}`", active_statuses))
    # pandas groupby drops null keys
    preds.extend(f"`{k}` IS NOT NULL" for k in group_cols)
    if preds:
        df = df.filter(" AND ".join(preds))

    if approx_distinct:
        out = df.groupBy(*group_cols).agg(
            money_sum(f"`{qty_col}`", "wip_qty"),
            F.approx_count_distinct(lot_col).alias("lot_count"),
            exact_avg(f"`{qty_col}`", "avg_qty_per_lot"),
            *[
                (F.expr(f"SUM({e})") if isinstance(e, str) else F.sum(e)).alias(name)
                for e, name in extra_sums
            ],
        )
    else:
        # evaluate per-row expressions BEFORE the shuffle and prune to
        # exactly the shuffled columns: the repartition then ships
        # (keys, lot, int, flags) instead of raw rows — at cluster
        # scale the difference between shuffling a CASE'd string
        # column and shuffling its 0/1 outcome
        df = df.select(
            *group_cols,
            lot_col,
            F.expr(scaled_long_sql(f"`{qty_col}`")).alias("__q100r"),
            *[
                (F.expr(e) if isinstance(e, str) else e).alias(f"__e{i}")
                for i, (e, _) in enumerate(extra_sums)
            ],
        ).repartition(*group_cols)
        pre = df.groupBy(*group_cols, lot_col).agg(
            F.expr("SUM(`__q100r`)").alias("__q100"),
            # scaled_long is null exactly when qty is null, so counting
            # the scaled column preserves count(qty_col) semantics
            F.expr("COUNT(`__q100r`)").alias("__qcnt"),
            *[
                F.expr(f"SUM(`__e{i}`)").alias(f"__x{i}")
                for i in range(len(extra_sums))
            ],
        )
        # same IEEE sequence as money_sum/exact_avg: exact integer total,
        # one cast to double, one divide
        total_sql = "CAST(SUM(`__q100`) AS DOUBLE) / 100.0D"
        out = pre.groupBy(*group_cols).agg(
            F.expr(total_sql).alias("wip_qty"),
            F.expr(f"COUNT(`{lot_col}`)").alias("lot_count"),
            F.expr(f"({total_sql}) / SUM(`__qcnt`)").alias("avg_qty_per_lot"),
            *[
                F.expr(f"SUM(`__x{i}`)").alias(name)
                for i, (_, name) in enumerate(extra_sums)
            ],
        )
    if snapshot_date is not None:
        out = out.withColumn("snapshot_date", F.lit(snapshot_date))
    return out


def priority_wip_aggregate(
    df: DataFrame,
    priority_col: str = "priority",
    high_value: str = "HIGH",
    **kwargs,
) -> DataFrame:
    """A7 single-pass: WIP aggregate + HIGH-priority conditional count.

    The reference computes the priority count as a separate groupby and
    left-joins it back (reference: project_01/assets/transfer.py:44-64);
    folding it into the same aggregation removes a whole shuffle+join.
    If the optional priority column is absent the count is constant 0 —
    the schema-flex pattern from SURVEY §1.3.
    """
    from dagster_etl_spark.functions import sql_str_literal

    cond = (
        flag_sql(f"`{priority_col}` = {sql_str_literal(high_value)}")
        if priority_col in df.columns
        else "0"
    )
    return wip_aggregate(
        df, extra_sums=((cond, "high_priority_count"),), **kwargs
    )


def priority_wip_split(
    df: DataFrame,
    priority_dim: DataFrame,
    dim_key: str,
    priority_col: str = "priority",
    high_value: str = "HIGH",
    group_cols: Sequence[str] = ("process_step", "product_code"),
    qty_col: str = "quantity",
    lot_col: str = "lot_id",
    status_col: str | None = "status",
    active_statuses: Sequence[str] = ("IN_PROGRESS", "COMPLETED"),
    approx_distinct: bool = False,
) -> DataFrame:
    """A7, the scale shape (r9): the fact NEVER joins the full dim.

    PRECONDITION — referential integrity: every fact ``lot_col`` has a
    dimension row. Under the reference's semantics the priority lookup
    is an attribute fetch on the lot's order (reference:
    etl/tenants/project_01/assets/transfer.py:55-64), so a lot without
    an order row is a pipeline bug, not a case to aggregate around;
    the fixtures satisfy it at every SF (0 orphan lots). Without RI the
    inner-join forms (``priority_wip_aggregate`` over the fact joined to
    the dim, or ``priority_wip_join`` over that join) are the correct
    choice: they drop orphan lots, this one keeps them.

    Why splitting wins (probe_priority_plan_r9.json, x50 = 30 M fact rows /
    7.5 M dim rows, interleaved DuckDB pairs): the join-then-aggregate
    shape must move every fact row through the dim join before a single
    partial aggregate can run — the probe's broadcast build alone is a
    7.5 M-row hash table per executor, and at real scale the join
    becomes a full fact shuffle. Splitting restores the join-free
    aggregate's profile (SCALETREND_r8: 1.09x single-process at 30 M
    rows) on the heavy path:

    * main aggregate: ``wip_aggregate`` on the fact ALONE — map-side
      partials, one sketch/grain exchange, no join;
    * urgent count: the fact projected to ``(group_cols, lot_col)``
      (narrow ints) joins ONLY the urgent dim slice (1/|priorities| of
      the rows, one bigint column), then aggregates per group;
    * graft: both aggregates are already hash-partitioned by
      ``group_cols``, so the final left join plans exchange-free.

    Measured x50 (probe_priority_plan_r9.json, 64MB-threshold probe):
    approx form 2.9 s vs 7.2 s join-then-aggregate; exact form 4.7 s
    vs 8.36 s aggregate-before-join (the fact pre-aggregated to (group,
    lot) grain, then joined to the dim), a shape deleted since. On
    the SHIPPED config (Spark-default 10MB broadcast threshold — the
    urgent slice SMJs once it outgrows 10MB, see the r9 addendum in
    BASELINE.md) the final trend is 4.3x -> 2.07x -> 1.42x
    single-process DuckDB at x10/x50/x100 (SCALETREND_r9.json),
    monotone and under the bar at 60 M rows.
    """
    preds = []
    if status_col is not None:
        preds.append(sql_in_list(f"`{status_col}`", active_statuses))
    preds.extend(f"`{k}` IS NOT NULL" for k in group_cols)
    # NULL lot keys would diverge from the inner-join forms (they drop
    # such rows at the join; the split base aggregate would keep them in
    # wip_qty) — filter them up front so all three A7 shapes agree. RI
    # plus this filter makes the split exactly equal to the joins.
    preds.append(f"`{lot_col}` IS NOT NULL")
    df = df.filter(" AND ".join(preds))
    base = wip_aggregate(
        df,
        group_cols=group_cols,
        qty_col=qty_col,
        lot_col=lot_col,
        status_col=None,
        approx_distinct=approx_distinct,
    )
    from dagster_etl_spark.functions import sql_str_literal

    urgent = priority_dim.filter(
        f"`{priority_col}` = {sql_str_literal(high_value)}"
    ).select(dim_key)
    proj = df.select(*group_cols, lot_col)
    # qualify via the parent frames: an unqualified F.col comparison is
    # ambiguous when the caller's dim key shares the fact's lot column
    # name (the natural case for a lot-keyed dim)
    cnt = (
        proj.join(urgent, proj[lot_col] == urgent[dim_key])
        .groupBy(*group_cols)
        .agg(F.expr("COUNT(1)").alias("high_priority_count"))
    )
    return base.join(cnt, on=list(group_cols), how="left").withColumn(
        "high_priority_count",
        F.expr("CAST(coalesce(`high_priority_count`, 0) AS BIGINT)"),
    )


def priority_wip_join(
    df: DataFrame,
    group_cols: Sequence[str] = ("process_step", "product_code"),
    priority_col: str = "priority",
    high_value: str = "HIGH",
    **kwargs,
) -> DataFrame:
    """A7/J1 join variant — faithful to the reference's two-step shape:
    aggregate HIGH-priority rows separately, left-join onto the WIP
    aggregate, fill missing counts with 0 (P10).

    The priority side aggregates a filtered subset (small), so it is
    always broadcast — at cluster scale this keeps the graft from
    shuffling the large aggregate a second time. Building it launches
    no Spark job: the WIP aggregate has one exact plan, chosen without
    looking at the data.
    """
    # status-filter once, up front: both the WIP aggregate and the priority
    # count read the filtered frame (reference computes the count from
    # df_active, project_01/assets/transfer.py:37-44)
    status_col = kwargs.pop("status_col", "status")
    active_statuses = kwargs.pop("active_statuses", ("IN_PROGRESS", "COMPLETED"))
    if status_col is not None:
        df = df.filter(F.col(status_col).isin(list(active_statuses)))
    base = wip_aggregate(df, group_cols=group_cols, status_col=None, **kwargs)
    pri = (
        df.filter(F.col(priority_col) == high_value)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("high_priority_count"))
    )
    joined = base.join(F.broadcast(pri), on=list(group_cols), how="left")
    return joined.withColumn(
        "high_priority_count", F.coalesce(F.col("high_priority_count"), F.lit(0)).cast("long")
    )
