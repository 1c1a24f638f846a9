"""Names and units of everything the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are what the result line's ``metrics``
object holds with tracing off and on; BENCHMARK.json lists the same
names (a test keeps the two in step). The other end-to-end figures
(``wall_s``, ``read_p50_s``, ``read_tail_s``, ``write_p50_s``,
``peak_rss_mb``, ``fail_ratio``, ``write_amp``, ``space_amp``) are printed
above the result line wherever their operation type exists; README.md
gives the measured spreads that keep them out of the gate.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

# Spans opened around calls into the program, named by repo module.
SPANS = (
    "session.start",
    "registry.build",
    "exec.action",
    "sources.load_table",
    "sources.lake.write_partition",
    "sources.lake.read_partition",
    "orchestration.extract",
    "orchestration.transfer",
    "orchestration.load",
    "writers.upsert",
    "streaming.slicestore.write",
    "streaming.slicestore.commit",
    "streaming.slicestore.read",
    "operators.neardup.ingest",
    "operators.neardup.read",
    "operators.neardup.compact",
    "operators.bm25.ingest",
    "operators.bm25.read",
    "operators.bm25.compact",
    "operators.ivfpq.init",
    "operators.ivfpq.ingest",
    "operators.ivfpq.read",
    "operators.ivfpq.compact",
)
# Spans that run while the workload sets up, not in the timed phase.
SETUP_SPANS = ("session.start", "operators.ivfpq.init")
COUNTED_SPANS = (
    "sources.load_table",
    "sources.lake.write_partition",
    "sources.lake.read_partition",
    "streaming.slicestore.write",
    "streaming.slicestore.commit",
    "streaming.slicestore.read",
)

SPARK = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
}

PER_LAYER = {
    **{f"{s}_s": "s" for s in SPANS},
    **{f"{s}.self_s": "s" for s in SPANS},
    **{f"{s}.calls": "count" for s in COUNTED_SPANS},
    **SPARK,
    "writers.rewrite_ratio": "ratio",
    "streaming.slicestore.files_read": "count",
    "plans.cache.released": "count/op",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}
