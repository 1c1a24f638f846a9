"""Manifest-committed slice store: the exactly-once substrate for
the incremental indexes.

Every standing index — ``IncrementalBM25Index``, ``IncrementalUnigramLM``
and ``IncrementalDSIRModel`` (operators/text.py),
``IncrementalNearDupIndex`` (operators/dedup.py), and
``IncrementalANNIndex`` and ``IncrementalIVFPQIndex``
(operators/similarity.py) — is a :class:`StandingState`: bucketed base
tables plus a slice region, written only through ``ingest_slice``.
Structured Streaming's checkpoint gives at-least-once delivery to
``foreachBatch`` — after a crash mid-batch, the SAME batch id is
replayed on restart, and a plain append would re-append whatever
portion of the slice already landed. This module is the gate that
makes ingest crash-safe for a fault at ANY point:

* each micro-batch's state lands in a **slice directory keyed by the
  checkpointed batch id**, written with ``mode("overwrite")`` — a
  replay after a crash anywhere during staging simply rewrites the
  same directory with the identical (deterministic) rows;
* a slice becomes visible only when its id enters the **MANIFEST**, a
  single small JSON file replaced atomically (``os.replace``) AFTER
  every component of the slice is fully staged. Readers union only
  committed slices, so a partially staged slice from a crashed attempt
  is invisible until its replay completes it;
* replays of an already-committed slice are skipped outright
  (``is_committed``) — the crash window between manifest commit and
  Spark's own checkpoint commit degrades to a no-op, not a double
  apply.

Net effect: ingest is idempotent under replay from any crash point, so
the recovered standing state is bit-identical to an uninterrupted run
— the property tests/test_streaming_recovery.py proves by killing a
stream mid-batch and restarting it from the checkpoint. Batch-grain
``ingest`` is the same write path: one slice, then the fold.

Scale posture: the slice region is the index's write-ahead delta (an
LSM level-0); ``StandingState.compact_slices`` folds committed slices
into the bucketed base tables to restore the pure co-located query
plan. On a real cluster the manifest's atomic replace maps to a
conditional put / metastore transaction (Iceberg & Delta implement
exactly this commit protocol); on the local filesystem ``os.replace``
is the honest equivalent.

Reference parity note: the reference has no streaming at all
(SURVEY §2.7); its recovery story is idempotent daily REPROCESSING
(etl/common/assets/transfer.py re-derives a day from scratch). This is
the same contract pushed down to micro-batch grain, where re-deriving
"the whole day" is no longer an option.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterator
from contextlib import closing, contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession


def _local(path: str) -> str:
    """Strip a file: scheme for os-level manifest IO."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def slice_file_budget(batch_df: DataFrame) -> int:
    """Output-file budget for a staged slice component whose plan ends
    in a ``spread()``-wide SCAN-LOCAL chain (r19, guide §6 small files):
    an explicit repartition is exempt from AQE coalescing, so writing
    such a chain unrepartitioned committed cores× kilobyte part-files
    per component per micro-batch (32 files for ~1250 rows at sf0.1),
    and the committed-slice union pays the per-file open cost again on
    EVERY subsequent probe. Budget = the number of input splits feeding
    the micro-batch (scales with batch bytes — a file-sourced trigger
    splits by size), clamped to [1, defaultParallelism]; non-file
    sources fall back to the batch's partition count. Measured at
    sf0.1: 0.7–0.9 s -> 0.5–0.6 s per staged write with identical rows.

    Do NOT use it for aggregate/join outputs: their trailing shuffle is
    AQE-coalesced already (measured 1 part-file as-is) and the
    repartition would only add a shuffle.

    ``inputFiles()`` does not raise for sources without files: it
    returns an empty list, for a ``createDataFrame`` frame and for a
    ``foreachBatch`` micro-batch alike (a streaming file source's batch
    reports no input files either)."""
    n = len(batch_df.inputFiles())
    if n == 0:
        n = batch_df.rdd.getNumPartitions()
    par = batch_df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(n, par))


class SliceStore:
    """Per-index slice region with an atomically replaced manifest.

    WRITER CONCURRENCY (r16 ADVICE): :meth:`commit` is a
    read-modify-write of the whole manifest, and ``foreachBatch``
    serializes batches only WITHIN one stream — two streams sharing an
    index root would otherwise race and silently drop each other's
    committed slice ids. Locally, :meth:`commit` therefore takes an
    exclusive ``flock`` on ``.manifest.lock`` for the read→replace
    span, making concurrent committers serialize instead of clobber.
    On a real cluster the manifest replace maps to a metastore /
    conditional-put transaction (see module docstring) whose CAS
    provides the same serialization; the intended deployment remains
    ONE ingesting stream per index — the lock turns an accidental
    second writer from silent data loss into correct (if contended)
    behavior."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._manifest = os.path.join(_local(root), "MANIFEST")

    # -- manifest ---------------------------------------------------------

    def committed(self) -> list[int]:
        try:
            with open(self._manifest) as f:
                return sorted(json.load(f)["slices"])
        except FileNotFoundError:
            return []

    def is_committed(self, slice_id: int) -> bool:
        return int(slice_id) in set(self.committed())

    def commit(self, slice_id: int) -> None:
        """Atomically add ``slice_id`` to the manifest (idempotent).

        write-temp + ``os.replace``: a crash during commit leaves either
        the old manifest or the new one, never a torn file. This is the
        single commit point — every component of the slice must be
        fully staged before calling. The read→replace span holds an
        exclusive flock (class docstring: writer concurrency) so a
        second writer on the same root serializes instead of dropping
        this commit's ids."""
        import fcntl

        d = os.path.dirname(self._manifest)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, ".manifest.lock"), "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            slices = set(self.committed())
            slices.add(int(slice_id))
            fd, tmp = tempfile.mkstemp(dir=d, prefix=".manifest_")
            try:
                with os.fdopen(fd, "w") as f:
                    json.dump({"slices": sorted(slices)}, f)
                os.replace(tmp, self._manifest)
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)

    # -- slice data -------------------------------------------------------

    def slice_path(self, component: str, slice_id: int) -> str:
        return f"{self.root}/{component}/slice={int(slice_id)}"

    def write(
        self, component: str, slice_id: int, df: DataFrame, files: int | None = None
    ) -> None:
        """Stage one component of one slice. ``overwrite`` is what makes
        a replay safe: the crashed attempt's partial files are replaced
        wholesale by the (deterministic) recomputation.

        ``files`` bounds the part-file count (see
        :func:`slice_file_budget`): the repartition keeps the upstream
        encode chain at full parallelism while the tiny delta lands in
        slice-sized files instead of cores× kilobyte ones. Replay-safe:
        the round-robin repartition sorts its input first
        (SPARK-23207, on by default), and the overwrite replaces the
        directory wholesale anyway — only the ROW SET must be
        deterministic, and it is."""
        if files is not None:
            df = df.repartition(files)
        df.write.mode("overwrite").parquet(self.slice_path(component, slice_id))

    def read_slice(
        self, spark: SparkSession, component: str, slice_id: int
    ) -> DataFrame:
        return spark.read.parquet(self.slice_path(component, slice_id))

    def read(self, spark: SparkSession, component: str) -> DataFrame | None:
        """Union of the COMMITTED slices of ``component`` (None when no
        slice has committed). Staged-but-uncommitted directories are
        deliberately invisible — they are a crashed attempt's leftovers
        until their replay commits them.

        A committed slice id whose component directory is ABSENT is an
        error, not a filter (r17 ADVICE): every ``ingest_slice`` stages
        all components before the manifest commit, so a missing dir
        means the slice data was deleted out from under the manifest —
        silently reading a smaller standing state would be data loss
        dressed as success."""
        ids = self.committed()
        if not ids:
            return None
        missing = [
            i
            for i in ids
            if not os.path.isdir(_local(self.slice_path(component, i)))
        ]
        if missing:
            raise FileNotFoundError(
                f"slice store {self.root!r}: manifest-committed slice(s) "
                f"{missing} have no {component!r} directory — slice data "
                "was removed outside the store (manifest and data are "
                "out of sync)"
            )
        return spark.read.parquet(
            *[self.slice_path(component, i) for i in ids]
        )

    def clear(self) -> None:
        """Drop the whole slice region (after compaction folds it into
        the base tables, or to reset a correctness-surface rebuild)."""
        import shutil

        shutil.rmtree(_local(self.root), ignore_errors=True)


def union_all(*dfs: DataFrame | None) -> DataFrame | None:
    """UNION ALL by name of the frames that are not None (None if none
    are)."""
    present = [d for d in dfs if d is not None]
    return reduce(DataFrame.unionByName, present) if present else None


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` cached for the body of the ``with`` only — for a frame
    that two staged components of one eager ``ingest_slice`` consume.
    Unlike ``plans.cache.pin`` nothing outlives the call."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


class StandingState:
    """Lifecycle shared by every incremental index: bucketed base
    tables, a :class:`SliceStore` region of committed deltas, and one
    write path into them.

    A subclass declares ``components`` — component name -> (catalog
    table, bucket columns or None for a plain table) — sets ``spark``
    and ``num_buckets``, and implements :meth:`_stage`. Tables outside
    the slice protocol that :meth:`drop` must also remove (frozen
    quantizers) go in ``extra_tables``. The region lives next to the
    first component's table in the warehouse, so drop/rebuild
    semantics match.

    Reads see base ∪ committed deltas (:meth:`_state`); with no slice
    region that is exactly the plain refreshed table read, so the
    co-located plan over a folded index is unchanged. :meth:`_parts`
    keeps the two apart for joins that must stay co-located with a
    bucketed base."""

    spark: SparkSession
    num_buckets: int
    components: dict[str, tuple[str, list[str] | None]]
    extra_tables: tuple[str, ...] = ()

    def _stage(
        self, store: SliceStore, data: DataFrame, slice_id: int, **opts
    ) -> Iterator[str]:
        """Write every component of one slice with ``store.write``,
        yielding each component's name once it is staged (the fault
        hook then sees ``staged_<name>``). The rows must be a
        deterministic function of ``data`` and the committed state, so
        a replay rewrites them identically."""
        raise NotImplementedError

    def _slice_store(self) -> SliceStore:
        table = next(iter(self.components.values()))[0]
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir")
        return SliceStore(f"{warehouse}/{table.lower()}__slices")

    def ingest_slice(
        self, data: DataFrame, slice_id: int, fault_hook=None, **opts
    ) -> bool:
        """Exactly-once ingest of one checkpoint-identified slice
        (``slice_id`` = the foreachBatch batch id). A replay of a
        committed slice returns False and applies nothing; otherwise
        every component is staged, then the manifest commit makes the
        slice visible at once. ``fault_hook(label)`` is a test-only
        injection point called after each staged component and after
        the commit. Frames cached while staging are released before
        this returns, also when it raises."""
        store = self._slice_store()
        if store.is_committed(slice_id):
            return False
        hook = fault_hook or (lambda _label: None)
        with closing(self._stage(store, data, slice_id, **opts)) as staged:
            for component in staged:
                hook(f"staged_{component}")
        store.commit(slice_id)
        hook("post_commit")
        return True

    def ingest(self, data: DataFrame, **opts) -> None:
        """Batch-grain ingest: one slice at the next free id, then the
        fold. The same exactly-once write path as a stream uses."""
        ids = self._slice_store().committed()
        self.ingest_slice(data, max(ids, default=-1) + 1, **opts)
        self.compact_slices()

    def _parts(
        self,
        component: str,
        spark: SparkSession | None = None,
        extra: DataFrame | None = None,
    ) -> list[DataFrame]:
        """The standing rows of ``component`` as at most two frames:
        the refreshed base table, and the committed deltas ∪ ``extra``.
        ``spark`` is the reading session: a foreachBatch clone does not
        see another session's appends through its own relation cache.
        Deltas take the base's columns, so a base written before a
        column was added stays readable."""
        spark = spark or self.spark
        table = self.components[component][0]
        base = None
        if spark.catalog.tableExists(table):
            spark.catalog.refreshTable(table)
            base = spark.table(table)
        delta = union_all(self._slice_store().read(spark, component), extra)
        if base is not None and delta is not None:
            delta = delta.select(*base.columns)
        return [p for p in (base, delta) if p is not None]

    def _state(self, component: str, spark: SparkSession | None = None) -> DataFrame:
        """Base table ∪ committed deltas of ``component``."""
        parts = self._parts(component, spark)
        if not parts:
            raise ValueError(
                f"{type(self).__name__}: no state for "
                f"{self.components[component][0]} — neither a base table "
                "nor a committed slice exists"
            )
        return union_all(*parts)

    def compact_slices(self) -> int:
        """Fold the committed deltas into the base tables and clear the
        region, restoring the pure co-located plan. Returns the number
        of slices folded. A missing bucketed table is created with
        ``write_bucketed`` and an existing one appended to under its
        own spec; a plain table is overwritten (after removing any
        orphaned location) or appended to.

        NOT crash-safe: a crash between the first append and the region
        clear leaves slices both folded and committed, and a rerun
        would fold them twice. In production the fold is one ACID table
        commit (Iceberg/Delta); locally run it once, outside a stream."""
        from dagster_etl_spark.sources.bucketed import (
            append_bucketed,
            write_bucketed,
        )
        from dagster_etl_spark.sources.lake import delete_path

        store = self._slice_store()
        n = len(store.committed())
        if n == 0:
            return 0
        spark = self.spark
        for component, (table, bucket_cols) in self.components.items():
            delta = store.read(spark, component)
            if spark.catalog.tableExists(table):
                delta = delta.select(*spark.table(table).columns)
                if bucket_cols:
                    append_bucketed(delta, table)
                else:
                    delta.write.mode("append").saveAsTable(table)
            elif bucket_cols:
                write_bucketed(
                    delta, table, bucket_cols, num_buckets=self.num_buckets
                )
            else:
                warehouse = spark.conf.get("spark.sql.warehouse.dir")
                delete_path(spark, f"{warehouse}/{table.lower()}")
                delta.write.mode("overwrite").saveAsTable(table)
        store.clear()
        return n

    def compact(self) -> dict[str, tuple[int, int]]:
        """Collapse the per-append files of the bucketed base tables;
        bucket specs survive, so probe joins stay co-located. Returns
        {table: (files_before, files_after)}."""
        from dagster_etl_spark.sources.bucketed import compact_bucketed

        return {
            table: compact_bucketed(self.spark, table)
            for table, bucket_cols in self.components.values()
            if bucket_cols
        }

    def drop(self) -> None:
        tables = [t for t, _ in self.components.values()]
        for t in (*self.extra_tables, *tables):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
        self._slice_store().clear()
