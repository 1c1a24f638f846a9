"""The benchmark's workloads.

Each workload sets up its state, runs a fixed number of rounds of
operations in one closed loop (the next operation starts when the last
one ends), and then checks its outputs against DuckDB without timing.
A round is a fixed amount of work, so ``wall_s`` compares like with
like across program versions; ``--seconds`` picks how many rounds run
(see :func:`rounds_for`).
"""

from __future__ import annotations

import os
import shutil
import traceback
from dataclasses import dataclass
from functools import reduce
from time import perf_counter

import numpy as np

from perfbench import gen, oracles

# Measured round length on a 4-core host at the commit that added the
# benchmark. It turns --seconds into a round count that does not depend on
# the speed of the program under test.
NOMINAL_ROUND_S = {"query_mix": 12.5, "etl_daily": 29.0, "ingest_cadence": 21.0}
COMPACT_EVERY = 1
IVFPQ = dict(dim=gen.EMB_DIM, nlist=16, m=8, ksub=16)


def rounds_for(workload: str, seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_ROUND_S[workload]))


@dataclass
class Op:
    kind: str  # "read" or "write"
    label: str
    seconds: float
    raised: bool = False


def noop(df) -> None:
    """Materialize ``df`` fully without collecting it."""
    df.write.mode("overwrite").format("noop").save()


class Workload:
    """Shared plumbing: the session, the tracer, the generated inputs and
    the operation log."""

    name = ""

    def __init__(self, spark, tracer, inputs: gen.Inputs, root: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.root = root
        self.seed = seed
        self.ops: list[Op] = []

    def op(self, kind: str, label: str, fn) -> None:
        """Run one timed operation; an exception counts as a failure."""
        from dagster_etl_spark.plans.cache import release_pinned

        raised = False
        with self.tracer.span(f"op.{kind}", op=True):
            t0 = perf_counter()
            try:
                fn()
            except Exception:
                traceback.print_exc()
                raised = True
            seconds = perf_counter() - t0
            self.tracer.add("released", release_pinned())
        self.ops.append(Op(kind, label, seconds, raised))

    def action(self, df) -> None:
        with self.tracer.span("exec.action"):
            noop(df)

    def storage_roots(self) -> list[str]:
        return []

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, r: int) -> None:
        raise NotImplementedError

    def verify(self) -> dict[str, str]:
        """Op-label prefix -> problem, for every output that is wrong."""
        raise NotImplementedError


class QueryMix(Workload):
    """The analyst read path: the registry's bench-tagged queries."""

    name = "query_mix"

    def setup(self) -> None:
        from dagster_etl_spark.plans.cache import release_pinned
        from dagster_etl_spark.registry import all_queries

        self.specs = all_queries()
        self.names = sorted(n for n, s in self.specs.items() if "bench" in s.tags)
        # One untimed pass warms every plan and keeps the outputs to check.
        self.outputs = {}
        self.failed_build: dict[str, str] = {}
        for name in self.names:
            try:
                self.outputs[name] = self.specs[name].fn(self.spark, self.inputs.root).toPandas()
            except Exception as exc:
                traceback.print_exc()
                self.failed_build[name] = f"raised {type(exc).__name__}"
            release_pinned()

    def round(self, r: int) -> None:
        order = np.random.default_rng([self.seed, r]).permutation(self.names)
        for name in order:
            self.op("read", str(name), lambda n=str(name): self._query(n))

    def _query(self, name: str) -> None:
        with self.tracer.span("registry.build"):
            df = self.specs[name].fn(self.spark, self.inputs.root)
        self.action(df)

    def verify(self) -> dict[str, str]:
        from dagster_etl_spark.registry import oracle_sql

        problems = oracles.check_query_mix(
            self.outputs, oracle_sql(), self.inputs.root, self.root
        )
        return {**problems, **self.failed_build}


class EtlDaily(Workload):
    """The paper's daily job: every tenant's pipelines for each date, from
    a fresh lake and warehouse each round."""

    name = "etl_daily"

    def setup(self) -> None:
        from pathlib import Path

        import dagster_etl_spark
        import dagster_etl_spark.tenants.project_01  # noqa: F401  registers plug-ins
        import dagster_etl_spark.tenants.project_02  # noqa: F401
        from dagster_etl_spark.orchestration import ConfigLoader

        tenants_dir = Path(dagster_etl_spark.__file__).parent / "tenants"
        self.tenants = ConfigLoader(tenants_dir, env="dev").load_all_tenants()
        self.base = ""

    def round(self, r: int) -> None:
        from dagster_etl_spark.orchestration import PipelineRunner

        if self.base:
            shutil.rmtree(self.base)
        self.base = f"{self.root}/etl/round{r}"
        lake, warehouse = f"{self.base}/lake", f"{self.base}/warehouse"
        for date in self.inputs.dates:
            for t in self.tenants:
                runner = PipelineRunner(self.spark, t, self.inputs.root, lake, warehouse)
                self.op("write", f"{t.tenant_id}/{date}", lambda: runner.run_partition(date))

    def storage_roots(self) -> list[str]:
        return [self.base]

    def verify(self) -> dict[str, str]:
        return oracles.check_etl(
            f"{self.base}/warehouse", self.inputs.root, self.inputs.dates, self.root
        )


class IngestCadence(Workload):
    """Daily slices into three standing incremental indexes, each read
    once after every slice, with compaction every COMPACT_EVERY slices.
    After the standing reads, the registry's ANN query runs over the new
    slice, so the registry layer is measured on this workload too."""

    name = "ingest_cadence"

    def setup(self) -> None:
        from dagster_etl_spark.operators.dedup import IncrementalNearDupIndex
        from dagster_etl_spark.operators.similarity import IncrementalIVFPQIndex
        from dagster_etl_spark.operators.text import IncrementalBM25Index
        from dagster_etl_spark.registry import all_queries
        from dagster_etl_spark.sources.fixtures import load_table

        self.ann = all_queries()[oracles.ANN_READ]
        self.neardup = IncrementalNearDupIndex(self.spark, "perfbench_nd")
        self.bm25 = IncrementalBM25Index(self.spark, "perfbench_bm25")
        self.ivfpq = IncrementalIVFPQIndex(self.spark, "perfbench_ivfpq", **IVFPQ)
        with self.tracer.span("operators.ivfpq.init"):
            self.ivfpq.init(load_table(self.spark, self.inputs.slices[0], "embeddings"))
        self.ingested: list[str] = []

    def round(self, r: int) -> None:
        from dagster_etl_spark.sources.fixtures import load_table

        spark = self.spark
        for i in range(gen.INGEST_SLICES):
            slice_id = r * gen.INGEST_SLICES + i + 1
            d = self.inputs.slices[slice_id]
            docs = load_table(spark, d, "documents")
            vecs = load_table(spark, d, "embeddings")
            for index, obj, data in (
                ("neardup", self.neardup, docs),
                ("bm25", self.bm25, docs),
                ("ivfpq", self.ivfpq, vecs),
            ):
                self.op("write", f"{index}/ingest/{slice_id}",
                        lambda o=obj, x=data, n=index: self._ingest(n, o, x, slice_id))
            self.ingested.append(d)
            self.op("read", f"neardup/read/{slice_id}", lambda: self._read(
                "neardup", lambda: self.neardup.pairs()))
            self.op("read", f"bm25/read/{slice_id}", lambda: self._read(
                "bm25", lambda: self.bm25.topk(load_table(spark, d, "doc_queries"), k=10)))
            self.op("read", f"ivfpq/read/{slice_id}", lambda: self._read(
                "ivfpq", lambda: self.ivfpq.topk(
                    load_table(spark, d, "vec_queries"), k=10, nprobe=8, rerank=50,
                    rerank_source=self._union(
                        "embeddings", [self.inputs.slices[0], *self.ingested]))))
            self.op("read", f"{oracles.ANN_READ}/{slice_id}", lambda: self._registry_read(d))
            if slice_id % COMPACT_EVERY == 0:
                for index, obj in (("neardup", self.neardup), ("bm25", self.bm25),
                                   ("ivfpq", self.ivfpq)):
                    with self.tracer.span(f"operators.{index}.compact"):
                        obj.compact_slices()

    def _ingest(self, index: str, obj, data, slice_id: int) -> None:
        with self.tracer.span(f"operators.{index}.ingest"):
            obj.ingest_slice(data, slice_id)

    def _read(self, index: str, build) -> None:
        with self.tracer.span(f"operators.{index}.read"):
            self.action(build())

    def _registry_read(self, d: str) -> None:
        with self.tracer.span("registry.build"):
            df = self.ann.fn(self.spark, d)
        self.action(df)

    def _union(self, table: str, dirs: list[str]):
        from dagster_etl_spark.sources.fixtures import load_table

        return reduce(
            lambda a, b: a.unionByName(b), (load_table(self.spark, d, table) for d in dirs)
        )

    def storage_roots(self) -> list[str]:
        return [f"{self.root}/warehouse"]

    def verify(self) -> dict[str, str]:
        from dagster_etl_spark.registry import oracle_sql

        docs = self._union("documents", self.ingested)
        pairs = self.neardup.pairs().toPandas()
        seeds = docs.filter("doc_id % 97 = 0").select("doc_id", "text")
        topk = self.bm25.topk(seeds, k=10).toPandas()
        ann = {f"{d}/embeddings.parquet": self.ann.fn(self.spark, d).toPandas()
               for d in self.ingested}
        return oracles.check_ingest(
            pairs, topk, [f"{d}/documents.parquet" for d in self.ingested], ann,
            oracle_sql(), self.root,
        )


WORKLOADS = {w.name: w for w in (QueryMix, EtlDaily, IngestCadence)}


def du(paths: list[str]) -> int:
    """Bytes of the regular files under ``paths``."""
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
