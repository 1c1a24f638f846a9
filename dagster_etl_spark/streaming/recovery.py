"""The file-drop stream driver: every streamed surface (the incremental
indexes, the quality scorer, the weighted sampler) runs through the
one ``readStream … foreachBatch … availableNow`` loop here.

The property a 100 TB streaming ingest actually banks on is not "the
stream ran to completion once" — it's "the machine died mid-batch and
the restarted stream converged to the same state." Structured
Streaming's checkpoint replays the in-flight batch on restart
(at-least-once delivery to foreachBatch); the batch body turns that
into exactly-once. For an index the body is ``ingest_slice``
(streaming/slicestore.py):

* crash BEFORE the slice's manifest commit → the replay recomputes and
  overwrites the staged slice directories (deterministic encode ⇒
  identical rows) and commits;
* crash AFTER the manifest commit but before Spark's own checkpoint
  commit → the replayed batch is detected as committed and skipped.

A run is pinned to a work dir holding the file drop (``docs``) and the
checkpoint (``ckpt``). Freshness is a property of the drop alone: a
drop without its ``_SUCCESS`` marker (never staged, or torn by a crash
mid-staging) is restaged and the run's state reset; a fully staged
drop means a restart, which resumes from the checkpoint. Fault
injection has one convention: ``fail_at=(batch_id, label)`` raises
:class:`InjectedFault` when that batch's body reaches that hook label,
failing the stream exactly as a process kill at that point would; a
second call with the same work dir recovers.

Reference parity note: the reference is batch-only; its recovery story
is idempotent daily reprocessing (etl/common/assets/transfer.py). This
is that contract at micro-batch grain.
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dagster_etl_spark.streaming.slicestore import StandingState

N_FILES = 4


class InjectedFault(RuntimeError):
    """Deliberate test-only crash inside foreachBatch."""


def _digest(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:8]


def work_root(kind: str, sf_dir: str, work_dir: str | None) -> str:
    """``work_dir``, or an empty scratch dir for ``kind`` at ``sf_dir``
    (always fresh: scratch_dir() wipes on re-request)."""
    from dagster_etl_spark.scratch import scratch_dir

    if work_dir is not None:
        return work_dir
    return scratch_dir(f"stream_{kind}_{_digest(sf_dir)}")


def stage_drop(
    spark: SparkSession,
    df: DataFrame,
    work: str,
    reset: Callable[[], None],
) -> str:
    """Return the drop dir ``{work}/docs``. Unless it is already fully
    staged (``staged_complete``), first clear the checkpoint, call
    ``reset()`` to clear the caller's state, then write ``df`` there as
    ``N_FILES`` parquet files (a single file would collapse to one
    degenerate batch). Resetting before staging keeps a crash between
    the two safe: the drop is still unstaged, so the next call resets
    again."""
    from dagster_etl_spark.sources.lake import delete_path, staged_complete

    in_dir = f"{work}/docs"
    if not staged_complete(spark, in_dir):
        delete_path(spark, f"{work}/ckpt")
        reset()
        df.repartition(N_FILES).write.mode("overwrite").parquet(in_dir)
    return in_dir


def run_recoverable_ingest(
    spark: SparkSession,
    in_dir: str,
    ckpt_dir: str,
    body: Callable[..., object],
    fail_at: tuple[int, str] | None = None,
) -> None:
    """One availableNow pass over the parquet drop directory ``in_dir``
    (maxFilesPerTrigger=1 ⇒ one file per micro-batch), checkpointed at
    ``ckpt_dir``. Each non-empty batch runs
    ``body(batch_df, batch_id, fault_hook=hook)``; the body calls
    ``hook(label)`` at its write-then-kill points (``ingest_slice``:
    staged_* per component, post_commit).

    ``fail_at=(batch_id, label)`` makes that hook raise
    :class:`InjectedFault`. Call again with the same ``ckpt_dir`` and
    ``fail_at=None`` to recover. Raises ``StreamingQueryException``
    (cause: InjectedFault) on the failing pass."""
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )

    def once(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return

        def hook(label: str) -> None:
            if fail_at == (batch_id, label):
                raise InjectedFault(
                    f"injected kill at batch {batch_id} / {label}"
                )

        body(batch_df, batch_id, fault_hook=hook)

    q = (
        stream.writeStream.foreachBatch(once)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_documents(
    spark: SparkSession,
    sf_dir: str,
    state_cls: Callable[[SparkSession, str], StandingState],
    work_dir: str | None = None,
    fail_at: tuple[int, str] | None = None,
    **ingest_opts,
) -> StandingState:
    """Stream the documents fixture at ``sf_dir`` as ``N_FILES``
    micro-batches into a ``state_cls`` index, exactly once per batch
    via ``ingest_slice(**ingest_opts)``, then fold the committed slices
    into the bucketed base (the co-located read plan of a batch-built
    index) and return the index.

    The index is named after the work dir: a restart on the same
    ``work_dir`` finds the crashed run's slice region, and two work
    dirs never share leftover state. A fresh drop drops the index
    first (correctness surface: a rebuild, never an accretion); on the
    default scratch work dir the index is deleted at interpreter exit
    with it."""
    from dagster_etl_spark.sources.fixtures import load_table

    from dagster_etl_spark.scratch import drop_warehouse_at_exit

    work = work_root(state_cls.__name__.lower(), sf_dir, work_dir)
    name = f"stream_{_digest(work)}"
    if work_dir is None:
        drop_warehouse_at_exit(spark, name)
    idx = state_cls(spark, name)
    docs = load_table(spark, sf_dir, "documents")
    in_dir = stage_drop(spark, docs, work, idx.drop)
    run_recoverable_ingest(
        spark,
        in_dir,
        f"{work}/ckpt",
        functools.partial(idx.ingest_slice, **ingest_opts),
        fail_at,
    )
    idx.compact_slices()
    return idx
