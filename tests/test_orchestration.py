"""End-to-end orchestration tests: tenant config loading (env
interpolation, per-env enablement), plug-in resolution (U1-U3), the
staged extract→transfer→load runner with the lake path contract, upsert
idempotency, and observability rollups."""

from __future__ import annotations

from pathlib import Path

import pytest

from tests.conftest import SF_SMALL

TENANTS_DIR = Path(__file__).resolve().parents[1] / "dagster_etl_spark" / "tenants"
PARTITION = "1995-04-05"  # a lineitem ship date present at sf0.001


@pytest.fixture(scope="module")
def tenant():
    import dagster_etl_spark.tenants.project_01  # noqa: F401 — registers plugins
    from dagster_etl_spark.orchestration import ConfigLoader

    return ConfigLoader(TENANTS_DIR, env="dev").load_all_tenants()[0]


def test_config_loading_and_interpolation(tenant, monkeypatch):
    from dagster_etl_spark.orchestration.config import interpolate_env

    assert tenant.tenant_id == "project_01"
    assert tenant.timezone == "UTC"  # ${ETL_TIMEZONE:UTC} default applied
    assert [p.name for p in tenant.pipelines] == [
        "lot_history", "orders_dim", "equipment_event",
    ]
    assert tenant.pipeline("lot_history").load.key_columns[0] == "project_id"
    monkeypatch.setenv("XYZ_VAR", "hello")
    assert interpolate_env("a=${XYZ_VAR}, b=${MISSING_VAR:fallback}") == "a=hello, b=fallback"
    with pytest.raises(KeyError):
        interpolate_env("${MISSING_NO_DEFAULT}")


def test_plugin_resolution(tenant):
    from dagster_etl_spark.orchestration import (
        resolve_extract_query,
        resolve_transfer,
    )
    from dagster_etl_spark.orchestration.transfers import (
        priority_wip_transfer,
        wip_transfer,
    )

    # custom beats common; common resolves for unregistered tenants
    assert resolve_transfer("project_01", "priority_wip") is priority_wip_transfer
    assert resolve_transfer("other_tenant", "wip") is wip_transfer
    assert "WHERE o_orderpriority IS NOT NULL" in resolve_extract_query(
        "project_01", "orders_dim"
    )
    with pytest.raises(KeyError, match="no transfer function"):
        resolve_transfer("project_01", "nope")


@pytest.fixture(scope="module")
def run_result(spark, tenant, tmp_path_factory):
    from dagster_etl_spark.orchestration import PipelineRunner

    base = tmp_path_factory.mktemp("orch")
    runner = PipelineRunner(
        spark,
        tenant,
        source_dir=SF_SMALL,
        lake_base=str(base / "lake"),
        warehouse_base=str(base / "warehouse"),
    )
    results = runner.run_partition(PARTITION)
    return runner, results, base


def test_lake_path_contract(run_result):
    runner, results, base = run_result
    ex = results["lot_history"]["extract"]
    assert ex["path"].endswith(
        "project_id=project_01/extract/job_name=lot_history/date=19950405"
    )
    assert ex["row_count"] == 8 and ex["tenant_id"] == "project_01"
    # master data (no date column) checkpoints under latest/
    assert results["orders_dim"]["extract"]["path"].endswith(
        "project_id=project_01/extract/job_name=orders_dim/latest"
    )
    # U2 custom query applied: only the 3 selected columns
    assert set(results["orders_dim"]["extract"]["df"].columns) == {
        "o_orderkey", "o_orderpriority", "o_orderdate",
    }


def test_transfer_matches_direct_operator(spark, run_result):
    from pyspark.sql import functions as F

    from dagster_etl_spark.operators.wip import priority_wip_aggregate
    from dagster_etl_spark.sources.fixtures import load_table

    runner, results, base = run_result
    got = {
        (r.l_linestatus, r.l_suppkey): (r.wip_qty, r.lot_count, r.high_priority_count)
        for r in spark.read.parquet(results["lot_history"]["transfer"]["path"]).collect()
    }
    li = load_table(spark, SF_SMALL, "lineitem").filter(
        F.to_date("l_shipdate") == PARTITION
    )
    orders = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.col("o_orderpriority").alias("priority"),
    )
    expected = priority_wip_aggregate(
        li.join(orders, on="l_orderkey"),
        priority_col="priority",
        high_value="1-URGENT",
        group_cols=("l_linestatus", "l_suppkey"),
        qty_col="l_quantity",
        lot_col="l_orderkey",
        status_col="l_returnflag",
        active_statuses=("N", "A"),
    ).collect()
    assert len(expected) == len(got) > 0
    for r in expected:
        assert got[(r.l_linestatus, r.l_suppkey)] == (
            r.wip_qty, r.lot_count, r.high_priority_count,
        )


def test_load_injects_tenant_and_upsert_is_idempotent(spark, tenant, run_result):
    from dagster_etl_spark.orchestration import PipelineRunner

    runner, results, base = run_result
    wh = str(base / "warehouse" / "aps_input_wip")
    first = spark.read.parquet(wh).orderBy("l_linestatus", "l_suppkey").collect()
    assert all(r.project_id == "project_01" for r in first)

    # re-run the same partition: delete-then-insert leaves identical state
    runner2 = PipelineRunner(
        spark, tenant, source_dir=SF_SMALL,
        lake_base=str(base / "lake"), warehouse_base=str(base / "warehouse"),
    )
    runner2.run_partition(PARTITION)
    second = spark.read.parquet(wh).orderBy("l_linestatus", "l_suppkey").collect()
    assert first == second


def test_load_reads_its_checkpoint_when_not_handed_one(spark, tenant, run_result):
    """Without a staged handoff, ``load`` reads the checkpoint that feeds
    it (transfer's here) from the lake, so a re-load of the same
    partition re-upserts the same rows idempotently."""
    from dagster_etl_spark.orchestration import PipelineRunner

    _, results, base = run_result
    runner = PipelineRunner(
        spark, tenant, source_dir=SF_SMALL,
        lake_base=str(base / "lake"), warehouse_base=str(base / "warehouse"),
    )
    out = runner.load(tenant.pipeline("lot_history"), PARTITION)
    n = results["lot_history"]["transfer"]["row_count"]
    assert out["inserted"] == out["deleted"] == n > 0
    (rec,) = runner.ctx.records
    assert (rec["stage"], rec["status"], rec["rows"]) == ("load", "success", n)


def test_empty_partition_flows_through(run_result):
    # events are 2024-dated; the 1995 partition is legitimately empty
    runner, results, base = run_result
    assert results["equipment_event"]["extract"]["row_count"] == 0
    assert results["equipment_event"]["load"]["inserted"] == 0


def test_observability_rollup(spark, run_result):
    from dagster_etl_spark.orchestration.observability import (
        export_run_events,
        run_events_df,
        step_duration_rollup,
    )

    runner, results, base = run_result
    events = run_events_df(spark, runner.ctx)
    assert events.filter("status = 'failure'").count() == 0
    roll = {
        (r.pipeline, r.stage): r.n_runs
        for r in step_duration_rollup(events).collect()
    }
    assert roll[("lot_history", "extract")] == 1
    assert roll[("lot_history", "load")] == 1
    path = export_run_events(spark, runner.ctx, str(base / "lake"), "run1", PARTITION)
    assert spark.read.parquet(path).count() == len(runner.ctx.records)


def test_failure_hook_records(spark, tenant, tmp_path):
    """Both run paths record a failing stage by name before the error
    propagates (the daily job runs ``run_partition``)."""
    from dagster_etl_spark.orchestration import PipelineRunner
    from dagster_etl_spark.orchestration.config import PipelineConfig

    bad = tenant.model_copy(deep=True)
    bad.pipelines = [
        PipelineConfig(
            name="broken", source_table="lineitem",
            has_transfer=True, transfer_function="does_not_exist",
        )
    ]
    for run in (
        lambda r: r.run_pipeline("broken", None),
        lambda r: r.run_partition(None),
    ):
        runner = PipelineRunner(
            spark, bad, source_dir=SF_SMALL,
            lake_base=str(tmp_path / "lake"), warehouse_base=str(tmp_path / "wh"),
        )
        with pytest.raises(KeyError):
            run(runner)
        fails = [r for r in runner.ctx.records if r["status"] == "failure"]
        assert len(fails) == 1, runner.ctx.records
        assert fails[0]["pipeline"] == "broken" and fails[0]["stage"] == "transfer"
        assert "does_not_exist" in fails[0]["error"]


def test_plugin_only_load_target_runs(spark, tmp_path, monkeypatch):
    """A load target registered only by a tenant plugin (U3) counts as a
    load stage: ``PipelineRunner.load_config`` — the one predicate both
    run paths and the Dagster asset graph use — returns it, and
    ``run_partition`` loads through it."""
    from dagster_etl_spark.orchestration import PipelineRunner, plugins
    from dagster_etl_spark.orchestration.config import (
        LoadConfig,
        PipelineConfig,
        TenantConfig,
    )

    cfg = LoadConfig(table="plugin_orders", mode="overwrite")
    monkeypatch.setitem(
        plugins._TENANT_PLUGINS, "t_plugin",
        plugins.TenantPlugins(load_configs={"orders": cfg}),
    )
    tenant = TenantConfig(
        tenant_id="t_plugin",
        pipelines=[
            PipelineConfig(name="orders", source_table="orders",
                           columns=["o_orderkey", "o_orderpriority"]),
            PipelineConfig(name="nation", source_table="nation"),
        ],
    )
    orders, nation = tenant.pipelines
    assert orders.load is None
    assert PipelineRunner.load_config("t_plugin", orders) is cfg
    assert PipelineRunner.load_config("t_plugin", nation) is None

    runner = PipelineRunner(
        spark, tenant, source_dir=SF_SMALL,
        lake_base=str(tmp_path / "lake"), warehouse_base=str(tmp_path / "wh"),
    )
    results = runner.run_partition(None)
    assert "load" not in results["nation"]
    loaded = results["orders"]["load"]
    assert loaded["path"] == str(tmp_path / "wh" / "plugin_orders")
    assert loaded["inserted"] == results["orders"]["extract"]["row_count"] > 0
    assert spark.read.parquet(loaded["path"]).count() == loaded["inserted"]


def test_dagster_graft_gated_without_dagster():
    from dagster_etl_spark.orchestration.dagster_defs import (
        build_definitions,
        dagster_available,
    )

    if dagster_available():  # pragma: no cover — not in this container
        pytest.skip("dagster installed; graft exercised by dagster itself")
    with pytest.raises(ImportError, match="dagster is not installed"):
        build_definitions([], lambda: None, "", "", "")


def test_plan_jobs_splits_partitioned_and_master_sync():
    """Reference job_factory.py:58-67 split: daily ETL = partitioned
    pipelines only, master sync = non-partitioned only, plus one job
    per pipeline."""
    from dagster_etl_spark.orchestration.config import PipelineConfig, TenantConfig
    from dagster_etl_spark.orchestration.dagster_defs import plan_jobs

    tenant = TenantConfig(
        tenant_id="t1",
        pipelines=[
            PipelineConfig(name="lot_history", source_table="lh", date_column="d"),
            PipelineConfig(name="item_master", source_table="im"),  # latest/
        ],
    )
    plan = plan_jobs(tenant)
    assert plan["t1_daily_etl_job"] == {
        "kind": "daily_etl", "pipelines": ["lot_history"], "partitioned": True,
    }
    assert plan["t1_master_sync_job"] == {
        "kind": "master_sync", "pipelines": ["item_master"], "partitioned": False,
    }
    assert plan["t1_lot_history_job"]["pipelines"] == ["lot_history"]
    assert plan["t1_item_master_job"]["partitioned"] is False

    # all-partitioned tenant -> no master sync job
    only_part = TenantConfig(
        tenant_id="t2",
        pipelines=[PipelineConfig(name="a", source_table="a", date_column="d")],
    )
    assert "t2_master_sync_job" not in plan_jobs(only_part)


def test_run_log_sensors_gated_without_dagster():
    from dagster_etl_spark.orchestration.dagster_defs import (
        build_run_log_sensors,
        dagster_available,
    )

    if dagster_available():  # pragma: no cover — not in this container
        sensors = build_run_log_sensors(lambda: None, "/tmp/lake")
        assert [s.name for s in sensors] == [
            "etl_run_log_success_sensor", "etl_run_log_failure_sensor",
        ]
    else:
        with pytest.raises(ImportError):
            build_run_log_sensors(lambda: None, "/tmp/lake")


def test_run_partition_is_one_spark_pass_per_stage(spark, tmp_path):
    """Both tenants for two dates, so the second date runs the upsert's
    merge path: each stage writes its checkpoint once, counts rows inside
    that write, and hands downstream a read of the checkpoint, not the
    source lineage."""
    import dagster_etl_spark.tenants.project_01  # noqa: F401 — registers plugins
    import dagster_etl_spark.tenants.project_02  # noqa: F401
    from dagster_etl_spark.orchestration import ConfigLoader, PipelineRunner

    tenants = ConfigLoader(TENANTS_DIR, env="dev").load_all_tenants()
    sc = spark.sparkContext
    group = "run_partition_job_cap"
    sc.setJobGroup(group, "run_partition job cap")
    try:
        for date in (PARTITION, "1995-04-06"):
            for t in tenants:
                runner = PipelineRunner(
                    spark, t, source_dir=SF_SMALL,
                    lake_base=str(tmp_path / "lake"),
                    warehouse_base=str(tmp_path / "warehouse"),
                )
                results = runner.run_partition(date)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # 52 jobs measured in a fresh session (48 once warm); 64 (60 warm)
    # while each WIP transfer ran a build-time probe job on its group
    # keys to pick between two exact plans, and 179 when each stage
    # handed downstream its live lineage and counted rows in extra jobs
    # (checkpoint re-read, upsert source/target recounts)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 52, jobs

    for stages in results.values():
        for stage in ("extract", "transfer"):
            if stage in stages:
                h = stages[stage]
                files = h["df"].inputFiles()
                assert files and all(
                    f.startswith(f"file://{h['path']}/") for f in files
                ), (stage, files)
