"""Warehouse writers — SURVEY §2 S8-S12.

The reference loads into Trino with hand-built SQL: 1000-row INSERT
VALUES batches and a per-row DELETE loop for upserts (reference:
etl/resources/trino.py:104-225). Both anti-patterns disappear on
Spark: appends are distributed file/JDBC writes; the keyed upsert is a
null-safe anti-join rewrite (or Iceberg/Delta ``MERGE INTO`` where a
transactional catalog is configured — the production path; this
container has plain Parquet only).

Faithful semantics reproduced from the reference:
* delete-then-insert by composite key, so duplicate keys **within the
  source batch** insert duplicates (not collapsed to one row) —
  reference behavior, tested;
* NULL key values match NULL target keys (``IS NULL`` branch at
  trino.py:206-207) -> null-safe equality ``<=>`` in the join;
* re-running the same batch is idempotent.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dagster_etl_spark.sources.lake import check_exists, observe_rows, swap_in, write_counted


def with_tenant(df: DataFrame, tenant_id: str, column: str = "project_id") -> DataFrame:
    """S12: tenant-column injection before load (reference:
    etl/factories/asset_factory.py:380-381)."""
    return df.withColumn(column, F.lit(tenant_id))


def null_safe_key_condition(left: DataFrame, right: DataFrame, keys: list[str]):
    """``l.k <=> r.k`` conjunction — NULL keys match NULL keys."""
    return reduce(
        lambda a, b: a & b, [left[k].eqNullSafe(right[k]) for k in keys]
    )


def _kept_rows(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Target rows whose key is absent from ``source`` (null-safe).

    The anti-join's right side is the distinct key set only — tiny
    relative to the batch, so Spark broadcasts it and the target scan
    never shuffles."""
    src_keys = source.select(*keys).distinct()
    return target.join(
        F.broadcast(src_keys), on=null_safe_key_condition(target, src_keys, keys), how="left_anti"
    )


def upsert_keys_plan(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Pure-plan upsert: target rows whose key is absent from source,
    plus ALL source rows (delete-then-insert semantics, S9).

    At cluster scale with Iceberg this becomes
    ``MERGE INTO t USING s ON <null-safe keys> WHEN MATCHED THEN DELETE``
    + append, with partition-level file pruning.
    """
    return _kept_rows(target, source, keys).unionByName(source.select(*target.columns))


def upsert_parquet(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
) -> dict[str, int]:
    """Keyed upsert into a Parquet path; returns {"deleted", "inserted"}
    like the reference (trino.py:165-225).

    Parquet is not transactional, so the merge materializes to a
    staging dir and swaps via rename — readers never see a partial
    state under the final path.

    The merge is the only write, and its statistics come out of it:
    three counts observed inside the write job (target rows, target
    rows kept by the anti-join, source rows), with
    ``deleted = target - kept``. No separate count job re-runs the
    source lineage or re-reads the target. A first write (no target
    yet) is a plain counted write.
    """
    if not check_exists(spark, path):
        return {"deleted": 0, "inserted": write_counted(source, path)}

    target, n_target = observe_rows(spark.read.parquet(path))
    kept, n_kept = observe_rows(_kept_rows(target, source, keys))
    batch, n_batch = observe_rows(source.select(*target.columns))
    staging = path.rstrip("/") + "__staging"
    kept.unionByName(batch).write.mode("overwrite").parquet(staging)
    # Iceberg/Delta MERGE is the atomic production path (merge_delete_sql)
    swap_in(spark, staging, path)
    return {
        "deleted": int(n_target.get["rows"] - n_kept.get["rows"]),
        "inserted": int(n_batch.get["rows"]),
    }


def append_parquet(source: DataFrame, path: str) -> int:
    """S8 batch insert -> distributed append (no literal rendering);
    returns the rows appended, counted inside the write."""
    return write_counted(source, path, mode="append")


def merge_delete_sql(catalog_table: str, keys: list[str]) -> str:
    """S9 production form, phase 1 of delete-then-insert: Iceberg/Delta
    MERGE deleting target rows whose (null-safe) key appears in the
    source batch; phase 2 is a plain distributed append of the batch.
    A single MERGE with UPDATE+INSERT would collapse duplicate source
    keys — the reference deliberately re-inserts them (trino.py:165-225).
    Emitted as SQL text only; the test container has no transactional
    catalog."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    return f"MERGE INTO {catalog_table} t USING __source s ON {on} WHEN MATCHED THEN DELETE"


def upsert_dml(table: str, staging: str, keys: list[str], columns: list[str]) -> list[str]:
    """S9 executable form for live warehouses without ``MERGE`` support:
    set-based delete-then-insert in ANSI SQL. Null-safe key equality via
    ``IS NOT DISTINCT FROM`` (the ANSI spelling of ``<=>``), duplicate
    source keys re-inserted as duplicates — the exact reference
    semantics (trino.py:165-225), minus its per-row DELETE loop.

    Runs as-is on DuckDB, Postgres and Trino; :func:`execute_upsert_dml`
    wraps the pair in one transaction.
    """
    on = " AND ".join(f"s.{k} IS NOT DISTINCT FROM {table}.{k}" for k in keys)
    cols = ", ".join(columns)
    return [
        f"DELETE FROM {table} WHERE EXISTS (SELECT 1 FROM {staging} s WHERE {on})",
        f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging}",
    ]


def execute_upsert_dml(
    con, table: str, staging: str, keys: list[str], columns: list[str]
) -> dict[str, int]:
    """Execute the keyed upsert live over a DB-API connection, one
    transaction — the executable analog of the reference's Trino DML
    (trino.py:165-225: transactional delete of matched keys, then
    insert of the whole batch). ``con`` is any DB-API connection whose
    dialect accepts the ANSI DML from :func:`upsert_dml` (DuckDB in the
    test container; Postgres/Trino in production)."""
    delete_sql, insert_sql = upsert_dml(table, staging, keys, columns)
    con.execute("BEGIN")
    try:
        deleted = _dml_rowcount(con.execute(delete_sql))
        inserted = _dml_rowcount(con.execute(insert_sql))
        con.execute("COMMIT")
    except Exception:
        con.execute("ROLLBACK")
        raise
    return {"deleted": deleted, "inserted": inserted}


def _dml_rowcount(cursor) -> int:
    """Affected-row count from a DB-API DML result. DuckDB surfaces it
    as a one-row ``Count`` result set; others via ``rowcount``."""
    try:
        rows = cursor.fetchall()
        if rows and len(rows[0]) == 1:
            return int(rows[0][0])
    except Exception:
        pass
    return int(getattr(cursor, "rowcount", -1))
