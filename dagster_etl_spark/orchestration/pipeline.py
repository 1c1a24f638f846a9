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

import functools
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


def _recorded(stage_fn: Callable[..., dict[str, Any]]) -> Callable[..., dict[str, Any]]:
    """The runner's one stage recorder: a stage method's call becomes a
    ``RunContext`` record named after the method — ``success`` with the
    handoff's rows, or ``failure`` with the error (failure hook parity,
    reference: etl_hooks.py:19-82) before the exception propagates. Both
    run paths and the Dagster assets call the stages through it."""

    @functools.wraps(stage_fn)
    def run(self: PipelineRunner, p: PipelineConfig, *args: Any, **kw: Any) -> dict[str, Any]:
        t0 = time.time()
        rec = {"tenant": self.tenant.tenant_id, "pipeline": p.name,
               "stage": stage_fn.__name__}
        try:
            out = stage_fn(self, p, *args, **kw)
        except Exception as exc:
            self.ctx.record(**rec, status="failure", error=str(exc)[:500],
                            elapsed_sec=round(time.time() - t0, 3))
            raise
        self.ctx.record(**rec, status="success", rows=out["row_count"],
                        elapsed_sec=round(time.time() - t0, 3))
        return out

    return run


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

    @_recorded
    def extract(self, p: PipelineConfig, partition_date: str | None) -> dict[str, Any]:
        """Source scan (S1/S2): fixture Parquet (or JDBC behind the same
        interface), custom-query override (U2) > config.query > full
        scan, explicit column list (P1), composed partition predicate
        (P5), lake checkpoint write (S4)."""
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
        return self._handoff(df, path, n)

    @_recorded
    def transfer(
        self,
        p: PipelineConfig,
        partition_date: str | None,
        upstream: dict[str, dict[str, Any]],
    ) -> dict[str, Any]:
        """U1 transfer function over named inputs: the in-run extract
        handoffs when given (already reads of their checkpoints), else
        the extract checkpoints read from the lake."""
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
        return self._handoff(df, path, n)

    @_recorded
    def load(
        self,
        p: PipelineConfig,
        partition_date: str | None,
        staged: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """S8-S12: tenant-column injection + keyed upsert (or append /
        overwrite) into the warehouse path. ``staged`` is the upstream
        stage's handoff; without it, load reads the checkpoint that feeds
        it (transfer's when the pipeline has one, else extract's) from
        the lake, as transfer does for inputs not handed in."""
        cfg = self.load_config(self.tenant.tenant_id, p)
        if cfg is None:  # explicit raise, not assert: survives python -O
            raise ValueError(f"load stage without load config: {p.name}")
        src = staged["df"] if staged is not None else lake.read_partition(
            self.spark, self.lake_base, self.tenant.tenant_id,
            "transfer" if p.has_transfer else "extract", p.name,
            partition_date if p.date_column is not None else None,
        )
        df = with_tenant(src, self.tenant.tenant_id)
        target = f"{self.warehouse_base.rstrip('/')}/{cfg.table}"
        if cfg.mode == "upsert":
            stats = upsert_parquet(self.spark, df, target, cfg.key_columns)
        elif cfg.mode == "append":
            stats = {"deleted": 0, "inserted": append_parquet(df, target)}
        else:
            stats = {"deleted": -1, "inserted": lake.write_counted(df, target)}
        return {"df": df, "path": target, "row_count": stats["inserted"],
                "tenant_id": self.tenant.tenant_id, **stats}

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
        extracts = {**(upstream or {}), p.name: self.extract(p, partition_date)}
        return self._after_extract(p, partition_date, extracts)

    def run_partition(self, partition_date: str | None) -> dict[str, dict[str, Any]]:
        """All configured pipelines, extracts first (shared inputs),
        then transfers/loads — the per-partition daily job."""
        extracts = {p.name: self.extract(p, partition_date) for p in self.tenant.pipelines}
        return {
            p.name: self._after_extract(p, partition_date, extracts)
            for p in self.tenant.pipelines
        }

    # -- internals ------------------------------------------------------------

    def _after_extract(
        self,
        p: PipelineConfig,
        partition_date: str | None,
        extracts: dict[str, dict[str, Any]],
    ) -> dict[str, dict[str, Any]]:
        """[transfer] → [load] for ``p`` over the extract handoffs
        (``p``'s own among them); returns the stage handoffs keyed by
        stage."""
        stages = {"extract": extracts[p.name]}
        staged = stages["extract"]
        if p.has_transfer:
            staged = stages["transfer"] = self.transfer(p, partition_date, extracts)
        if self.load_config(self.tenant.tenant_id, p) is not None:
            stages["load"] = self.load(p, partition_date, staged)
        return stages

    def _handoff(self, df: DataFrame, path: str, n: int) -> dict[str, Any]:
        """Hand downstream the checkpoint just written at ``path`` (``n``
        rows, counted in the write)."""
        checkpoint = self.spark.read.schema(df.schema).parquet(path)
        return {"df": checkpoint, "path": path, "row_count": n,
                "tenant_id": self.tenant.tenant_id}
