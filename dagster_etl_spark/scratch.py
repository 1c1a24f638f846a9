"""Process-scoped scratch directories for queries that materialize
intermediate lake state (dbt runs, compaction rewrites).

``tempfile.mkdtemp`` in a query body leaks one directory per run; the
driver re-runs every registered query each round, so that accretes.
Here all scratch lives under ONE per-process root that is removed at
interpreter exit, and a repeated request for the same name wipes the
previous contents first — re-running a query reuses (not accumulates)
its scratch space. Catalog state named after a scratch path (the
streamed indexes, the weighted-sample state) is removed at exit too,
by :func:`drop_warehouse_at_exit`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOT: str | None = None
_AT_EXIT: set[str] = set()


def scratch_dir(name: str) -> str:
    """Return an empty scratch directory for ``name``.

    Same name within one process -> same path, emptied on each call.
    The whole root is deleted at interpreter exit. Callers returning a
    lazy DataFrame over this path rely on exit-time (not immediate)
    cleanup — the driver collects before the interpreter exits.
    """
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    path = os.path.join(_ROOT, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def drop_warehouse_at_exit(spark, prefix: str) -> None:
    """Delete the warehouse entries named ``prefix*`` (tables and slice
    regions) at interpreter exit — for state named after a
    :func:`scratch_dir` path, which must not outlive that path. Files
    are removed directly: the catalog itself is per-process, and the
    JVM may be gone by the time exit handlers run."""
    import glob

    from dagster_etl_spark.streaming.slicestore import _local

    warehouse = _local(spark.conf.get("spark.sql.warehouse.dir"))
    pattern = os.path.join(os.path.abspath(warehouse), glob.escape(prefix) + "*")
    if pattern not in _AT_EXIT:
        _AT_EXIT.add(pattern)
        atexit.register(_remove_matching, pattern)


def _remove_matching(pattern: str) -> None:
    import glob

    for path in glob.glob(pattern):
        shutil.rmtree(path, ignore_errors=True)
