"""Spans around calls into the program's layers, with Spark's own
counters attributed to the innermost open span.

Each span runs its Spark jobs under its own job group, so every job the
status store records names exactly one span. Counters are read from the
status store when a span at depth <= 1 closes (an operation or a
phase), after the listener bus has drained, so the store's default
retention only has to hold one operation's jobs.

With tracing off, ``span`` costs one branch; the benchmark still tags
the timed phase with a job group so that untraced runs can total
``outputBytes`` and check that no job escaped the phase.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

JOB_GROUP = "spark.jobGroup.id"
COLLECT_DEPTH = 1

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "input_bytes", "output_bytes",
    "output_records", "shuffle_bytes", "spill_bytes", "gc_ms",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    depth: int
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    spark: dict[str, float] = field(default_factory=lambda: dict.fromkeys(SPARK_COUNTERS, 0))
    stage_windows: list[tuple[float, float]] = field(default_factory=list)
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids[s.id], s.start, s.end) for s in spans
    }


class StageReader:
    """Reads one job group's jobs and their stages from the status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._tracker = sc.statusTracker()
        self._store = self._jsc.statusStore()
        self._seen_stages: set[int] = set()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def read_group(self, group: str, span: Span) -> None:
        for job_id in sorted(self._tracker.getJobIdsForGroup(group)):
            span.jobs.append(int(job_id))
            span.spark["jobs"] += 1
            stage_ids = self._store.job(int(job_id)).stageIds()
            for i in range(stage_ids.size()):
                self._read_stage(int(stage_ids.apply(i)), span)

    def _read_stage(self, stage_id: int, span: Span) -> None:
        if stage_id in self._seen_stages:
            return
        self._seen_stages.add(stage_id)
        st = self._store.lastStageAttempt(stage_id)
        if st.status().toString() == "SKIPPED":
            return
        c = span.spark
        c["stages"] += 1
        c["tasks"] += st.numCompleteTasks()
        c["run_ms"] += st.executorRunTime()
        c["input_bytes"] += st.inputBytes()
        c["output_bytes"] += st.outputBytes()
        c["output_records"] += st.outputRecords()
        c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["gc_ms"] += st.jvmGcTime()
        sub, done = st.submissionTime(), st.completionTime()
        if sub.isDefined() and done.isDefined():
            span.stage_windows.append(
                (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
            )


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._reader: StageReader | None = None
        self._sc = None
        self._next_op = 0

    def bind(self, spark) -> None:
        """Attach to a (new) session; later spans read its status store."""
        self._sc = spark.sparkContext
        self._reader = StageReader(spark) if self.enabled else None
        if self._stack:
            self._set_group(self._stack[-1].group)

    @contextmanager
    def span(self, name: str, op: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        op_id = None
        if op:
            op_id, self._next_op = self._next_op, self._next_op + 1
        elif parent is not None:
            op_id = parent.op
        s = Span(
            id=len(self.spans), name=name, parent=parent.id if parent else None,
            op=op_id, depth=len(self._stack), start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)
            self._pending.append(s)
            if s.depth <= COLLECT_DEPTH:
                self.collect()
            self.overhead_s += time.perf_counter() - t1

    def add(self, key: str, value: float) -> None:
        """Add ``value`` to an attribute of the innermost open span."""
        if self.enabled and self._stack:
            attrs = self._stack[-1].attrs
            attrs[key] = attrs.get(key, 0.0) + value

    def collect(self) -> None:
        if not self._pending or self._reader is None:
            return
        self._reader.drain()
        for s in self._pending:
            self._reader.read_group(s.group, s)
        self._pending.clear()

    def _set_group(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP, group)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span opened under it."""
        ids, out = {root.id}, [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out


def wrap(tracer: Tracer, owner: Any, attr: str, name: str, after=None, before=None) -> None:
    """Replace ``owner.attr`` with a version that runs inside span ``name``.

    ``before(args, kwargs)`` and ``after(result)`` may record counts on the
    span; both run inside it."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            if before is not None:
                before(args, kwargs)
            out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

    setattr(owner, attr, traced)


def _rebind(original, replacement) -> None:
    """Point every program module's by-name import of ``original`` at
    ``replacement``."""
    import sys

    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("dagster_etl_spark") or mod is None:
            continue
        for key, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, key, replacement)


def install(tracer: Tracer) -> None:
    """Wrap the layer functions the benchmark does not call directly."""
    from dagster_etl_spark.orchestration.pipeline import PipelineRunner
    from dagster_etl_spark.sources import fixtures, lake
    from dagster_etl_spark.streaming.slicestore import SliceStore, _local
    from dagster_etl_spark.writers import upsert

    for attr in ("extract", "transfer", "load"):
        wrap(tracer, PipelineRunner, attr, f"orchestration.{attr}")
    for attr in ("write_partition", "read_partition"):
        wrap(tracer, lake, attr, f"sources.lake.{attr}")

    original = fixtures.load_table
    wrap(tracer, fixtures, "load_table", "sources.load_table")
    _rebind(original, fixtures.load_table)

    original = upsert.upsert_parquet
    wrap(
        tracer, upsert, "upsert_parquet", "writers.upsert",
        after=lambda out: tracer.add("rows_inserted", out["inserted"]),
    )
    _rebind(original, upsert.upsert_parquet)

    def count_files(store, component, slice_ids) -> None:
        n = 0
        for sid in slice_ids:
            for _, _, files in os.walk(_local(store.slice_path(component, sid))):
                n += sum(f.endswith(".parquet") for f in files)
        tracer.add("files_read", n)

    def committed_files(args, kwargs):
        store, _spark, component = args
        count_files(store, component, store.committed())

    def slice_files(args, kwargs):
        store, _spark, component, slice_id = args
        count_files(store, component, [slice_id])

    wrap(tracer, SliceStore, "write", "streaming.slicestore.write")
    wrap(tracer, SliceStore, "commit", "streaming.slicestore.commit")
    wrap(tracer, SliceStore, "read", "streaming.slicestore.read", before=committed_files)
    wrap(
        tracer, SliceStore, "read_slice", "streaming.slicestore.read",
        before=slice_files,
    )
