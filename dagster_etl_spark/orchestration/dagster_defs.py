"""Dagster asset graft (SURVEY §3 entry point 1) — builds the same
asset graph shape as the reference's factories
(``[tenant, stage, name]`` keys wired extract → transfer → load with
daily partitions; reference: etl/factories/asset_factory.py:226-353,
etl/__init__.py:94-158) over this engine's ``PipelineRunner`` stages.

Job surface mirrors the reference's job factory
(etl/factories/job_factory.py:50-221):
* ``{tenant}_daily_etl_job`` — partitioned pipelines only, daily
  partitions + cron schedule;
* ``{tenant}_master_sync_job`` — non-partitioned (``latest/``) master
  pipelines only, plain cron schedule;
* ``{tenant}_{pipeline}_job`` — one per pipeline (the generic form of
  the reference's wip/cycle_time/equipment pipeline jobs, which are
  per-pipeline asset selections with hardcoded names).
Job planning is a pure function (:func:`plan_jobs`) so the split is
testable without dagster installed.

Run-status sensors (reference: etl/sensors/run_log_sensor.py:71-137)
export each finished run's event log to the lake under
``project_id={tenant}/logs/run_events/date={YYYYMMDD}/{run_id}`` — one
sensor for SUCCESS, one for FAILURE, built by
:func:`build_run_log_sensors`.

Dagster is NOT installed in the test container, so everything here is
gated: ``build_definitions`` raises a clear ImportError without
dagster, and the data plane stays fully runnable through
``PipelineRunner`` alone (tests/test_orchestration.py). With dagster
installed, ``dagster dev -m <module calling build_definitions>``
reproduces the reference's operational surface.
"""

from __future__ import annotations

from collections.abc import Callable

from dagster_etl_spark.orchestration.config import TenantConfig


def dagster_available() -> bool:
    try:
        import dagster  # noqa: F401

        return True
    except ImportError:
        return False


def plan_jobs(tenant: TenantConfig) -> dict[str, dict]:
    """Pure job plan for one tenant: job name -> {kind, pipelines,
    partitioned}. The reference's split (job_factory.py:58-67): daily
    ETL covers partitioned assets only, master sync covers
    non-partitioned only, plus one job per pipeline."""
    partitioned = [p.name for p in tenant.pipelines if p.date_column is not None]
    non_partitioned = [p.name for p in tenant.pipelines if p.date_column is None]
    plan: dict[str, dict] = {}
    if partitioned:
        plan[f"{tenant.tenant_id}_daily_etl_job"] = {
            "kind": "daily_etl",
            "pipelines": partitioned,
            "partitioned": True,
        }
    if non_partitioned:
        plan[f"{tenant.tenant_id}_master_sync_job"] = {
            "kind": "master_sync",
            "pipelines": non_partitioned,
            "partitioned": False,
        }
    for p in tenant.pipelines:
        plan[f"{tenant.tenant_id}_{p.name}_job"] = {
            "kind": "pipeline",
            "pipelines": [p.name],
            "partitioned": p.date_column is not None,
        }
    return plan


def build_run_log_sensors(spark_factory: Callable, lake_base: str) -> list:
    """Two ``run_status_sensor``s (SUCCESS, FAILURE) exporting the
    finished run's event log as Parquet to the lake — the engine twin
    of the reference's run_log_sensor (run_log_sensor.py:71-137; the
    reference writes with boto3+pyarrow, we write through Spark so the
    export scales with the cluster, not the sensor daemon)."""
    import datetime as _dt

    import dagster as dg

    def _build(status, suffix: str):
        @dg.run_status_sensor(
            run_status=status,
            name=f"etl_run_log_{suffix}_sensor",
            description=f"Export event log to the lake on run {suffix}",
            minimum_interval_seconds=30,
        )
        def _sensor(context) -> None:
            run = context.dagster_run
            tags = dict(run.tags)
            tenant_id = tags.get("tenant_id", "unknown")
            records = [
                (
                    str(e.timestamp),
                    str(getattr(e, "dagster_event_type", "") or ""),
                    (e.message or "")[:4000],
                )
                for e in context.instance.all_logs(run.run_id)
            ]
            if not records:
                return
            spark = spark_factory()
            df = spark.createDataFrame(records, "ts string, event_type string, message string")
            df = (
                df.selectExpr(
                    "ts", "event_type", "message",
                    f"'{run.job_name}' AS job_name",
                    f"'{tenant_id}' AS tenant_id",
                    f"'{suffix}' AS run_status",
                )
            )
            today = _dt.datetime.now(tz=_dt.timezone.utc).strftime("%Y%m%d")
            path = (
                f"{lake_base.rstrip('/')}/project_id={tenant_id}/logs/"
                f"run_events/date={today}/{run.run_id}"
            )
            df.write.mode("overwrite").parquet(path)

        return _sensor

    return [
        _build(dg.DagsterRunStatus.SUCCESS, "success"),
        _build(dg.DagsterRunStatus.FAILURE, "failure"),
    ]


def build_definitions(
    tenants: list[TenantConfig],
    spark_factory: Callable,
    source_dir: str,
    lake_base: str,
    warehouse_base: str,
    start_date: str = "2024-01-01",
    timezone: str = "Asia/Seoul",
    daily_cron: str = "0 2 * * *",
):
    """Definitions(assets, jobs, schedules, sensors) — one asset per
    configured stage (daily-partitioned when the pipeline has a date
    column), jobs per :func:`plan_jobs`, run-log sensors per
    :func:`build_run_log_sensors`."""
    if not dagster_available():
        raise ImportError(
            "dagster is not installed; run pipelines via "
            "orchestration.PipelineRunner, or pip install dagster to use "
            "the asset graph"
        )
    import dagster as dg

    from dagster_etl_spark.orchestration.pipeline import PipelineRunner

    daily = dg.DailyPartitionsDefinition(
        start_date=start_date, timezone=timezone, fmt="%Y-%m-%d", end_offset=1
    )

    def runner_for(tenant: TenantConfig) -> PipelineRunner:
        return PipelineRunner(
            spark_factory(), tenant, source_dir=source_dir,
            lake_base=lake_base, warehouse_base=warehouse_base,
        )

    assets, jobs, schedules = [], [], []
    for tenant in tenants:
        pipeline_assets: dict[str, list] = {}
        for p in tenant.pipelines:
            p_assets = []
            partitions = daily if p.date_column is not None else None
            extract_key = dg.AssetKey([tenant.tenant_id, "extract", p.name])

            def _extract(context, tenant=tenant, p=p):
                date = context.partition_key if p.date_column else None
                out = runner_for(tenant).extract(p, date)
                return dg.MaterializeResult(
                    metadata={"s3_path": out["path"], "row_count": out["row_count"]}
                )

            p_assets.append(
                dg.asset(key=extract_key, partitions_def=partitions, name=None)(
                    _extract
                )
            )
            upstream_key = extract_key

            if p.has_transfer:
                transfer_key = dg.AssetKey([tenant.tenant_id, "transfer", p.name])

                def _transfer(context, tenant=tenant, p=p):
                    date = context.partition_key if p.date_column else None
                    out = runner_for(tenant).transfer(p, date, upstream={})
                    return dg.MaterializeResult(
                        metadata={"s3_path": out["path"], "row_count": out["row_count"]}
                    )

                p_assets.append(
                    dg.asset(
                        key=transfer_key, partitions_def=partitions,
                        deps=[upstream_key], name=None,
                    )(_transfer)
                )
                upstream_key = transfer_key

            if PipelineRunner.load_config(tenant.tenant_id, p) is not None:

                def _load(context, tenant=tenant, p=p):
                    date = context.partition_key if p.date_column else None
                    out = runner_for(tenant).load(p, date)
                    return dg.MaterializeResult(
                        metadata={"inserted": out["inserted"], "deleted": out["deleted"]}
                    )

                p_assets.append(
                    dg.asset(
                        key=dg.AssetKey([tenant.tenant_id, "load", p.name]),
                        partitions_def=partitions, deps=[upstream_key], name=None,
                    )(_load)
                )

            pipeline_assets[p.name] = p_assets
            assets.extend(p_assets)

        for job_name, spec in plan_jobs(tenant).items():
            selected = [a for n in spec["pipelines"] for a in pipeline_assets[n]]
            job = dg.define_asset_job(
                job_name,
                selection=dg.AssetSelection.assets(*selected),
                partitions_def=daily if spec["partitioned"] else None,
                tags={"tenant_id": tenant.tenant_id, "job_kind": spec["kind"]},
            )
            jobs.append(job)
            cron = tenant.daily_cron or daily_cron
            if spec["kind"] == "daily_etl":
                schedules.append(
                    dg.build_schedule_from_partitioned_job(job, cron_schedule=cron)
                )
            elif spec["kind"] == "master_sync":
                schedules.append(
                    dg.ScheduleDefinition(job=job, cron_schedule=cron)
                )

    return dg.Definitions(
        assets=assets,
        jobs=jobs,
        schedules=schedules,
        sensors=build_run_log_sensors(spark_factory, lake_base),
    )
