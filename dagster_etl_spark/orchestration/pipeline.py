"""Staged pipeline runner — the asset-factory analog (SURVEY §3 entry
point 2): extract → transfer → load per partition, with the reference's
stage-handoff contract (each stage writes lake Parquet and passes a
``{"path", "row_count", "tenant_id"}`` dict; reference:
etl/factories/asset_factory.py:105-431).

The lake checkpoint is the data path. Each stage runs its plan once,
in the checkpoint write, and counts its rows inside that write; the
handoff then carries ``df``, a read of the checkpoint it just wrote
(with the written schema, so no footer-inference job), and the next
stage reads a few thousand checkpointed rows instead of re-running the
source scan, filter and transform. ``run_partition`` and the Dagster
asset graph (whose transfer and load assets re-read the lake
partition) thus feed every stage the same data.

Spark-first differences, by design:
* the extract partition predicate is composed with ``.filter`` —
  Catalyst pushes it into the scan — instead of string-appending WHERE
  to the source SQL (which breaks on queries that already have WHERE /
  ORDER BY; reference bug at etl/resources/rdb.py:97);
* stages hand off Spark plans over the checkpoint, not pandas frames
  round-tripped through S3;
* the load stage is the distributed keyed-upsert writer, not per-row
  DELETE + 1000-row INSERT literals.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dagster_etl_spark.orchestration.config import LoadConfig, PipelineConfig, TenantConfig
from dagster_etl_spark.orchestration.plugins import (
    resolve_extract_query,
    resolve_load_config,
    resolve_transfer,
)
from dagster_etl_spark.sources import lake
from dagster_etl_spark.sources.fixtures import load_table
from dagster_etl_spark.writers.upsert import append_parquet, upsert_parquet, with_tenant

StepHook = Callable[[dict[str, Any]], None]


@dataclass
class RunContext:
    """Step-level observability (A9/S13 substrate): one record per
    stage execution, exportable via orchestration.observability."""

    records: list[dict[str, Any]] = field(default_factory=list)
    hooks: list[StepHook] = field(default_factory=list)

    def record(self, **kw: Any) -> None:
        kw.setdefault("ts", time.time())
        self.records.append(kw)
        for h in self.hooks:
            h(kw)


class PipelineRunner:
    """Runs a tenant's configured pipelines for one partition date."""

    def __init__(
        self,
        spark: SparkSession,
        tenant: TenantConfig,
        source_dir: str,
        lake_base: str,
        warehouse_base: str,
        context: RunContext | None = None,
    ):
        self.spark = spark
        self.tenant = tenant
        self.source_dir = source_dir
        self.lake_base = lake_base
        self.warehouse_base = warehouse_base
        self.ctx = context or RunContext()

    @staticmethod
    def load_config(tenant_id: str, p: PipelineConfig) -> LoadConfig | None:
        """The pipeline's load target: a tenant plugin's (U3), else the
        config's; None when the pipeline has no load stage. Both run
        paths and the Dagster asset graph decide on this."""
        return resolve_load_config(tenant_id, p.name) or p.load

    # -- stages ---------------------------------------------------------------

    def extract(self, p: PipelineConfig, partition_date: str | None) -> dict[str, Any]:
        """Source scan (S1/S2): fixture Parquet (or JDBC behind the same
        interface), custom-query override (U2) > config.query > full
        scan, explicit column list (P1), composed partition predicate
        (P5), lake checkpoint write (S4)."""
        t0 = time.time()
        sql = resolve_extract_query(self.tenant.tenant_id, p.name) or p.query
        df = load_table(self.spark, self.source_dir, p.source_table)
        if sql is not None:
            df.createOrReplaceTempView(p.source_table)
            df = self.spark.sql(sql)
        if p.columns:
            df = df.select(*p.columns)
        lake_date = partition_date if p.date_column is not None else None
        if p.date_column is not None and partition_date is not None:
            df = df.filter(F.to_date(F.col(p.date_column)) == F.lit(partition_date))
        path, n = lake.write_partition(
            df, self.lake_base, self.tenant.tenant_id, "extract", p.name, lake_date
        )
        return self._handoff(df, path, n, p, "extract", t0)

    def transfer(
        self,
        p: PipelineConfig,
        partition_date: str | None,
        upstream: dict[str, dict[str, Any]],
    ) -> dict[str, Any]:
        """U1 transfer function over named inputs: the in-run extract
        handoffs when given (already reads of their checkpoints), else
        the extract checkpoints read from the lake."""
        t0 = time.time()
        inputs: dict[str, DataFrame] = {}
        for name in p.input_names:
            if name in upstream:
                inputs[name] = upstream[name]["df"]
            else:
                try:  # master-data inputs checkpoint under latest/
                    in_date = (
                        partition_date
                        if self.tenant.pipeline(name).date_column is not None
                        else None
                    )
                except KeyError:
                    in_date = partition_date
                inputs[name] = lake.read_partition(
                    self.spark, self.lake_base, self.tenant.tenant_id,
                    "extract", name, in_date,
                )
        fn = resolve_transfer(self.tenant.tenant_id, p.transfer_fn_name)
        df = fn(inputs, partition_date or "latest", self.tenant.tenant_id)
        lake_date = partition_date if p.date_column is not None else None
        path, n = lake.write_partition(
            df, self.lake_base, self.tenant.tenant_id, "transfer", p.name, lake_date
        )
        return self._handoff(df, path, n, p, "transfer", t0)

    def load(
        self, p: PipelineConfig, partition_date: str | None, staged: dict[str, Any]
    ) -> dict[str, Any]:
        """S8-S12: tenant-column injection + keyed upsert (or append /
        overwrite) into the warehouse path."""
        t0 = time.time()
        cfg = self.load_config(self.tenant.tenant_id, p)
        if cfg is None:  # explicit raise, not assert: survives python -O
            raise ValueError(f"load stage without load config: {p.name}")
        df = with_tenant(staged["df"], self.tenant.tenant_id)
        target = f"{self.warehouse_base.rstrip('/')}/{cfg.table}"
        if cfg.mode == "upsert":
            stats = upsert_parquet(self.spark, df, target, cfg.key_columns)
        elif cfg.mode == "append":
            stats = {"deleted": 0, "inserted": append_parquet(df, target)}
        else:
            stats = {"deleted": -1, "inserted": lake.write_counted(df, target)}
        rec = {"df": df, "path": target, "row_count": stats["inserted"],
               "tenant_id": self.tenant.tenant_id, **stats}
        self.ctx.record(
            tenant=self.tenant.tenant_id, pipeline=p.name, stage="load",
            status="success", rows=stats["inserted"], elapsed_sec=round(time.time() - t0, 3),
        )
        return rec

    # -- orchestration --------------------------------------------------------

    def run_pipeline(
        self,
        name: str,
        partition_date: str | None,
        upstream: dict[str, dict[str, Any]] | None = None,
    ) -> dict[str, dict[str, Any]]:
        """extract → [transfer] → [load] for one pipeline; returns the
        stage handoffs keyed by stage."""
        p = self.tenant.pipeline(name)
        upstream = dict(upstream or {})
        out: dict[str, dict[str, Any]] = {}
        try:
            out["extract"] = self.extract(p, partition_date)
            upstream[p.name] = out["extract"]
            staged = out["extract"]
            if p.has_transfer:
                out["transfer"] = self.transfer(p, partition_date, upstream)
                staged = out["transfer"]
            if self.load_config(self.tenant.tenant_id, p) is not None:
                out["load"] = self.load(p, partition_date, staged)
        except Exception as exc:  # failure hook parity (etl_hooks.py:19-82)
            self.ctx.record(
                tenant=self.tenant.tenant_id, pipeline=name, stage="run",
                status="failure", error=str(exc)[:500],
            )
            raise
        return out

    def run_partition(self, partition_date: str | None) -> dict[str, dict[str, Any]]:
        """All configured pipelines, extracts first (shared inputs),
        then transfers/loads — the per-partition daily job."""
        handoffs: dict[str, dict[str, Any]] = {}
        results: dict[str, dict[str, Any]] = {}
        for p in self.tenant.pipelines:
            handoffs[p.name] = self.extract(p, partition_date)
        for p in self.tenant.pipelines:
            staged = handoffs[p.name]
            stages = {"extract": staged}
            if p.has_transfer:
                stages["transfer"] = self.transfer(p, partition_date, handoffs)
                staged = stages["transfer"]
            if self.load_config(self.tenant.tenant_id, p) is not None:
                stages["load"] = self.load(p, partition_date, staged)
            results[p.name] = stages
        return results

    # -- internals ------------------------------------------------------------

    def _handoff(
        self, df: DataFrame, path: str, n: int, p: PipelineConfig, stage: str, t0: float
    ) -> dict[str, Any]:
        """Record the stage and hand downstream the checkpoint just
        written at ``path`` (``n`` rows, counted in the write)."""
        self.ctx.record(
            tenant=self.tenant.tenant_id, pipeline=p.name, stage=stage,
            status="success", rows=n, elapsed_sec=round(time.time() - t0, 3),
        )
        checkpoint = self.spark.read.schema(df.schema).parquet(path)
        return {"df": checkpoint, "path": path, "row_count": n,
                "tenant_id": self.tenant.tenant_id}
