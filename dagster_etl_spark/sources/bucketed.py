"""Bucketed warehouse tables — co-located joins without a shuffle
(SURVEY §4 / task brief: "bucketing for co-located joins").

Writing both fact tables bucketed by the join key pre-shuffles them
once at write time; every subsequent join on that key reads bucket i
against bucket i with NO exchange on either side — at 100 TB this
converts the recurring join shuffle (the dominant cost of fact-fact
joins) into a one-time write cost. The test asserts the Exchange
operators actually disappear from the physical plan.

Bucket metadata lives in the session catalog (Spark's in-memory
catalog here; Hive/Iceberg in production — same API).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) table. Sorting within
    buckets additionally enables shuffle-AND-sort-free sort-merge
    joins."""
    if "." in table:
        # the orphan-location cleanup below string-builds the DEFAULT
        # database's managed path; a qualified db.tbl lives at
        # warehouse/db.db/tbl and an external table lives wherever its
        # LOCATION points — guessing either risks deleting the wrong
        # directory, so refuse rather than clean up blind.
        raise ValueError(
            f"write_bucketed requires an unqualified default-database "
            f"table name, got {table!r}"
        )
    if mode == "overwrite":
        # a fresh session's catalog doesn't know about tables whose
        # warehouse directories survived a previous session (the round
        # driver's exact situation) — saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS instead of overwriting. Drop both
        # the catalog entry and any orphaned location first. When the
        # catalog DOES know the table, resolve its real location
        # (external/custom LOCATION) instead of assuming the default
        # managed path.
        spark = df.sparkSession
        location = None
        table_type = None
        if spark.catalog.tableExists(table):
            meta = {
                r.col_name: r.data_type
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            }
            location = meta.get("Location")
            table_type = meta.get("Type")
        if table_type == "EXTERNAL":
            # DROP TABLE on an external table deliberately preserves its
            # data; silently delete_path()ing the resolved location here
            # would destroy data outside the warehouse whenever a caller
            # reuses a name that collides with an external table. Refuse
            # -- the caller must drop/relocate the external table
            # explicitly if the overwrite is really intended.
            raise ValueError(
                f"write_bucketed overwrite target {table!r} is an EXTERNAL "
                f"table at {location}; refusing to delete data outside the "
                "warehouse -- drop it explicitly first"
            )
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        from dagster_etl_spark.sources.lake import delete_path

        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        # only clean up MANAGED locations (or the default managed path
        # for orphaned directories the catalog no longer knows about)
        delete_path(spark, location or f"{warehouse}/{table.lower()}")
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucket_spec(
    spark: SparkSession, table: str
) -> tuple[int, list[str], list[str]]:
    """Read (num_buckets, bucket_cols, sort_cols) back from the
    catalog — the table itself is the source of truth for appends, so
    a caller can't accidentally re-state a different spec."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r.col_name: r.data_type for r in rows}

    def _cols(key: str) -> list[str]:
        raw = info.get(key, "").strip().strip("[]")
        return [c.strip().strip("`") for c in raw.split(",") if c.strip()]

    return int(info.get("Num Buckets", "0")), _cols("Bucket Columns"), _cols(
        "Sort Columns"
    )


def append_bucketed(df: DataFrame, table: str) -> None:
    """Append rows to an EXISTING bucketed table under its own catalog
    spec — the daily-partition pattern (reference: etl/resources/
    s3.py:139-151 writes each day under date=YYYYMMDD instead of
    rewriting the dataset). Each append hashes only the NEW rows into
    bucket files; the table's bucket metadata is unchanged, so every
    downstream join on the bucket key stays exchange-free (Spark's
    scan reports HashPartitioning over the bucket columns regardless
    of how many files each bucket accumulated; with multiple files per
    bucket the planner re-inserts only a local per-task Sort, never a
    shuffle). Compact with :func:`compact_bucketed` when small appended
    files accumulate."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        raise ValueError(
            f"append_bucketed target {table!r} does not exist; create it "
            "with write_bucketed first"
        )
    num_buckets, bucket_cols, sort_cols = bucket_spec(spark, table)
    if not num_buckets or not bucket_cols:
        raise ValueError(f"table {table!r} is not bucketed")
    writer = df.write.mode("append").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


class BucketedPipeline:
    """The recurring-pipeline layout as an engine surface (r10 verdict
    task 4): a fact/dim pair co-bucketed on the join key, maintained
    INCREMENTALLY so the one-time bucket-write claim survives a daily
    cadence — each day's slice is appended (hash-shuffled once, at
    write time) without rewriting the whole table, and the fact-dim
    join plans with zero exchanges before AND after appends
    (tests/test_bucketed.py pins both).

    Mirrors the reference's daily tenant pipeline (etl/resources/
    s3.py:139-151: one date=YYYYMMDD partition per run) re-expressed
    as Spark bucketed tables: the reference pays a full pandas read
    per downstream join; this pays one bucket-hash per NEW slice and
    no shuffle ever after.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        fact_key: str,
        dim_key: str,
        num_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.fact_table = f"{name}_fact_bkt"
        self.dim_table = f"{name}_dim_bkt"
        self.fact_key = fact_key
        self.dim_key = dim_key
        self.num_buckets = num_buckets

    def load_full(self, fact: DataFrame, dim: DataFrame) -> None:
        """Initial (or rebuild) load: bucket+sort both sides by their
        join keys. The only full-table shuffle this layout ever pays."""
        write_bucketed(
            fact,
            self.fact_table,
            [self.fact_key],
            num_buckets=self.num_buckets,
            sort_cols=[self.fact_key],
        )
        write_bucketed(
            dim,
            self.dim_table,
            [self.dim_key],
            num_buckets=self.num_buckets,
            sort_cols=[self.dim_key],
        )

    def append(
        self, fact: DataFrame | None = None, dim: DataFrame | None = None
    ) -> None:
        """Daily increment: append today's slice(s); only the new rows
        are hashed into buckets."""
        if fact is not None:
            append_bucketed(fact, self.fact_table)
        if dim is not None:
            append_bucketed(dim, self.dim_table)

    def join(self, how: str = "inner") -> DataFrame:
        """The co-located fact-dim join (exchange-free on both sides
        when the dim is past the broadcast threshold; value-identical
        either way)."""
        # refresh first: appends made by OTHER sessions (foreachBatch
        # clones) don't invalidate this session's relation cache
        self.spark.catalog.refreshTable(self.fact_table)
        self.spark.catalog.refreshTable(self.dim_table)
        fact = self.spark.table(self.fact_table)
        dim = self.spark.table(self.dim_table)
        return fact.join(
            dim, on=fact[self.fact_key] == dim[self.dim_key], how=how
        )


def file_count(spark: SparkSession, table: str) -> int:
    """Distinct data files behind ``table``."""
    from pyspark.sql.functions import input_file_name

    spark.catalog.refreshTable(table)
    return spark.table(table).select(input_file_name()).distinct().count()


def stage_compacted(spark: SparkSession, table: str, staged: str) -> None:
    """Write bucketed ``table``'s rows to the new table ``staged`` under
    the same spec, one file per bucket: the collapse step that
    :func:`compact_bucketed` and ``StandingState.compact`` share.

    Repartition ON THE BUCKET KEY to exactly num_buckets tasks —
    bucketed writers emit one file per (task, bucket), so each task
    must carry exactly one bucket for the rewrite to actually collapse
    files (repartition's murmur3-mod-n is the same hash family
    bucketing uses). The bucketed READ must be disabled while staging:
    the planner otherwise removes the repartition exchange (the table
    already claims HashPartitioning on the key) yet still scans by file
    splits, leaving write tasks bucket-MISaligned and the rewrite a
    no-op (measured: 8 files -> 8 files without this)."""
    num_buckets, bucket_cols, sort_cols = bucket_spec(spark, table)
    if not num_buckets or not bucket_cols:
        raise ValueError(f"table {table!r} is not bucketed")
    saved = spark.conf.get("spark.sql.sources.bucketing.enabled")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
    try:
        write_bucketed(
            spark.table(table).repartition(num_buckets, *bucket_cols),
            staged,
            bucket_cols,
            num_buckets=num_buckets,
            sort_cols=sort_cols,
        )
    finally:
        spark.conf.set("spark.sql.sources.bucketing.enabled", saved)


def replace_table(spark: SparkSession, live: str, staged: str, hook=None) -> None:
    """Put managed table ``staged`` in ``live``'s place: drop ``live``,
    delete any directory left at its location (a managed rename refuses
    an existing target directory) and rename ``staged`` onto it.
    ``hook()`` runs between the drop and the rename."""
    from dagster_etl_spark.sources.lake import delete_path

    spark.sql(f"DROP TABLE IF EXISTS {live}")
    if hook is not None:
        hook()
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    delete_path(spark, f"{warehouse}/{live.lower()}")
    spark.sql(f"ALTER TABLE {staged} RENAME TO {live}")


def compact_bucketed(spark: SparkSession, table: str) -> tuple[int, int]:
    """Rewrite a bucketed table under its own spec, collapsing the
    small per-append files each daily increment leaves behind (every
    append adds up to num_buckets files; after months of daily ingest
    a bucket is hundreds of small files and scan/open overhead
    dominates). One full-table rewrite, spec unchanged — downstream
    joins stay exchange-free; run it on the compaction cadence, not
    the ingest cadence. The collapsed copy is written once under a
    staged name (Spark can't overwrite a table from a plan that reads
    it) and renamed into place. Returns (files_before, files_after)."""
    import uuid

    before = file_count(spark, table)
    staged = f"{table}__staged_{uuid.uuid4().hex[:8]}"
    stage_compacted(spark, table, staged)
    replace_table(spark, table, staged)
    return before, file_count(spark, table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: Sequence[str]
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key."""
    return spark.table(left_table).join(spark.table(right_table), on=list(on))


def exchanges_in_plan(df: DataFrame) -> int:
    """Count shuffle Exchange operators in the physical plan (0 for a
    properly co-located bucketed join)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")
