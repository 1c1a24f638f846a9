"""Untimed output checks against DuckDB recomputations.

Every check compares row count, column names and an order-insensitive
exact value comparison, as the registry's correctness gate does.
"""

from __future__ import annotations

import duckdb
import pandas as pd

QUERY_MIX_VIEWS = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The registry query ingest_cadence runs over each new slice.
ANN_READ = "ann_cosine_topk"

# Approximate-distinct bench queries have no hashable oracle. Every column
# but the estimate must equal the exact twin's oracle, and the estimate
# must lie within 3x HLL's default 5% relative standard deviation.
APPROX_BOUND = {
    "wip_aggregate_approx": ("wip_aggregate", "lot_count", 0.15),
    "priority_wip_approx": ("priority_wip", "lot_count", 0.15),
}


def connect(temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal; otherwise what differs."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    try:
        pd.testing.assert_frame_equal(
            _normalize(got), _normalize(want), check_dtype=False, check_exact=True
        )
    except AssertionError as exc:
        return f"values: {str(exc)[:300]}"
    return None


def _bound_check(got: pd.DataFrame, exact: pd.DataFrame, col: str, tol: float) -> str | None:
    if len(got) != len(exact) or sorted(got.columns) != sorted(exact.columns):
        return f"shape {got.shape} vs {exact.shape}"
    keys = [c for c in sorted(got.columns) if c != col]
    a = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = exact.sort_values(keys, kind="mergesort").reset_index(drop=True)
    problem = compare(a[keys], b[keys])
    if problem:
        return problem
    err = (a[col] - b[col]).abs()
    bad = int((err > (tol * b[col]).clip(lower=1)).sum())
    return f"{col} outside {tol:.0%} on {bad} rows" if bad else None


def check_query_mix(outputs: dict[str, pd.DataFrame], oracles: dict[str, str],
                    input_dir: str, temp_dir: str) -> dict[str, str]:
    """Query name -> problem, for every bench query whose output differs
    from its registry oracle run over the same generated inputs."""
    con = connect(temp_dir)
    for t in QUERY_MIX_VIEWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    problems = {}
    for name, got in outputs.items():
        if name in APPROX_BOUND:
            twin, col, tol = APPROX_BOUND[name]
            problem = _bound_check(got, con.execute(oracles[twin]).fetchdf(), col, tol)
        else:
            problem = compare(got, con.execute(oracles[name]).fetchdf())
        if problem:
            problems[name] = problem
    con.close()
    return problems


def _wip_sql(date: str, tenant: str, priority: bool) -> str:
    qty = "CAST(round(l.l_quantity * 100) AS BIGINT)"
    extra, join = "", ""
    if priority:
        extra = (", CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)"
                 " AS BIGINT) AS high_priority_count")
        join = "JOIN orders o ON l.l_orderkey = o.o_orderkey AND o.o_orderpriority IS NOT NULL"
    return f"""
SELECT l.l_linestatus, l.l_suppkey,
       CAST(SUM({qty}) AS DOUBLE) / 100.0 AS wip_qty,
       COUNT(DISTINCT l.l_orderkey) AS lot_count,
       CAST(SUM({qty}) AS DOUBLE) / 100.0 / COUNT(l.l_quantity) AS avg_qty_per_lot
       {extra},
       '{date}' AS snapshot_date, '{tenant}' AS project_id
FROM lineitem l {join}
WHERE CAST(l.l_shipdate AS DATE) = DATE '{date}'
  AND l.l_returnflag IN ('N', 'A')
  AND l.l_linestatus IS NOT NULL AND l.l_suppkey IS NOT NULL
GROUP BY l.l_linestatus, l.l_suppkey
"""


def _events_sql(date: str, tenant: str, keep_null_users: bool) -> str:
    total = "CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) / 1e6"
    if keep_null_users:
        user, where, extra = "coalesce(user_id, -1)", "", f", {total} / COUNT(*) AS avg_value"
    else:
        user, where, extra = "user_id", "AND user_id IS NOT NULL", ""
    return f"""
SELECT {user} AS user_id, event_type, COUNT(*) AS n_events, {total} AS total_value
       {extra}, '{date}' AS snapshot_date, '{tenant}' AS project_id
FROM events
WHERE CAST(ts AS DATE) = DATE '{date}' {where}
GROUP BY 1, 2
"""


# Warehouse table -> (tenant, DuckDB recomputation of one date's rows).
ETL_EXPECTED = {
    "aps_input_wip": ("project_01", lambda d: _wip_sql(d, "project_01", True)),
    "equipment_daily": ("project_01", lambda d: _events_sql(d, "project_01", False)),
    "p02_input_wip": ("project_02", lambda d: _wip_sql(d, "project_02", False)),
    "p02_equipment_daily": ("project_02", lambda d: _events_sql(d, "project_02", True)),
}


def check_etl(warehouse: str, input_dir: str, dates: list[str], temp_dir: str) -> dict[str, str]:
    """Tenant id -> problem, for every warehouse table that differs from
    the union over ``dates`` of its per-date aggregates."""
    con = connect(temp_dir)
    for t in ("lineitem", "orders", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    problems = {}
    for table, (tenant, sql) in ETL_EXPECTED.items():
        want = pd.concat([con.execute(sql(d)).fetchdf() for d in dates], ignore_index=True)
        try:
            got = con.execute(f"SELECT * FROM '{warehouse}/{table}/*.parquet'").fetchdf()
        except duckdb.Error as exc:
            problems[tenant] = f"{table}: {exc}"
            continue
        problem = compare(got, want)
        if problem:
            problems[tenant] = f"{table}: {problem}"
    con.close()
    return problems


def check_ingest(pairs: pd.DataFrame, topk: pd.DataFrame, doc_files: list[str],
                 ann: dict[str, pd.DataFrame], oracles: dict[str, str],
                 temp_dir: str) -> dict[str, str]:
    """Op-label prefix -> problem. The near-dup pairs and BM25 top-k are
    checked against the one-shot oracles over the union of the ingested
    document slices; each slice's registry ANN read (``ann``: embeddings
    file -> output) against its registry oracle over that slice."""
    con = connect(temp_dir)
    files = ", ".join(f"'{f}'" for f in doc_files)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
    problems = {}
    for index, got, oracle in (
        ("neardup", pairs, oracles["minhash_neardup"]),
        ("bm25", topk, oracles["bm25_incremental"]),
    ):
        problem = compare(got, con.execute(oracle).fetchdf())
        if problem:
            problems[index] = problem
    for emb_file, got in ann.items():
        con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM '{emb_file}'")
        problem = compare(got, con.execute(oracles[ANN_READ]).fetchdf())
        if problem:
            problems[ANN_READ] = f"{emb_file}: {problem}"
    con.close()
    return problems
