"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark and its
``oracle_sql()`` twin on DuckDB, then compares row count, column names,
and order-insensitive values (exact equality, floats included — the
engine's determinism contract is bit-for-bit).

The pandas side stays bounded at any result size: the Spark result is
cached on disk and the oracle result in a DuckDB temp table, and a
result of more than CHUNK_ROWS rows is compared chunk by chunk (rows
split by one integer column mod the chunk count, the same split on both
sides), so at most one chunk of each side is in pandas at a time. The
process's peak RSS (which includes DuckDB running the oracles) is
printed at the end and recorded in the --json artifact.

Usage: python tools/check_correctness.py [--json OUT.json] [sf_dir] [name ...]
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

_argv = sys.argv[1:]
JSON_OUT = None
MERGE = False
if _argv and _argv[0] == "--json":
    JSON_OUT = _argv[1]
    _argv = _argv[2:]
if _argv and _argv[0] == "--merge":
    # run ONLY the named queries but merge their rows into an existing
    # --json artifact (recomputing totals), so registering a new query
    # mid-round needs one run, not a full 105-query re-sweep. Every
    # merged row is still a real Spark-vs-oracle run; the guard test
    # (test_allcheck_artifacts_cover_full_registry) checks the merged
    # total against the registry.
    MERGE = True
    _argv = _argv[1:]
SF_DIR = _argv[0] if _argv else "/root/testdata/sf0.01"
ONLY = set(_argv[1:])
if MERGE and not (JSON_OUT and ONLY):
    sys.exit("--merge requires --json OUT.json and explicit query names")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Approx queries have no hashable oracle (an HLL estimate cannot
# bit-match a foreign engine), but they DO have a bound gate: every
# column except the approx-distinct one must equal the exact twin's
# oracle bit-for-bit, and the approx column must sit within 3x the
# default 5% relative standard deviation. name -> (approx_col, rel_tol).
APPROX_BOUND: dict[str, tuple[str, float]] = {
    "wip_aggregate_approx": ("lot_count", 0.15),
    "priority_wip_approx": ("lot_count", 0.15),
}


#: Largest result compared in one piece; bigger ones go chunk by chunk.
CHUNK_ROWS = 250_000


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Row count, column names, dtype kinds, then the exact multiset of
    values; returns the problems found."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rows {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    else:
        # The driver's value-hash stringifies per dtype (int 5 != float
        # 5.0), so a DuckDB HUGEINT->float64 fetchdf coercion passes a
        # value-equality check but fails the driver.  Gate on dtype KIND
        # (int/uint folded together; width differences are hash-neutral).
        fold = {"u": "i"}
        for c in sorted(sdf.columns):
            sk = fold.get(sdf[c].dtype.kind, sdf[c].dtype.kind)
            ok = fold.get(odf[c].dtype.kind, odf[c].dtype.kind)
            if sk != ok:
                problems.append(f"dtype kind {c}: spark {sdf[c].dtype} vs oracle {odf[c].dtype}")
    if not problems:
        a, b = normalize(sdf), normalize(odf)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        except AssertionError as exc:
            problems.append(f"values: {str(exc)[:400]}")
    return problems


def chunk_key(sq) -> str | None:
    """The integer column of the Spark result with the most distinct
    values (None if it has none) — the chunk split for big results."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    ints = [
        f.name for f in sq.schema.fields
        if isinstance(f.dataType, (ByteType, ShortType, IntegerType, LongType))
    ]
    if not ints:
        return None
    nd = sq.agg(*[F.approx_count_distinct(F.col(f"`{c}`")).alias(c) for c in ints]).first()
    return max(ints, key=lambda c: nd[c])


def compare_chunked(sq, con, n_rows: int) -> list[str]:
    """:func:`compare` over the cached Spark result ``sq`` and the
    DuckDB table ``_oracle``, one chunk at a time: rows go to chunk
    ``key mod n`` (NULL keys to chunk 0) on both sides, so equal
    multisets split into equal chunks."""
    key = chunk_key(sq)
    n = -(-n_rows // CHUNK_ROWS) if key is not None else 1
    for i in range(n):
        if n == 1:
            s_part, o_where = sq, ""
        else:
            s_part = sq.filter(f"coalesce(pmod(`{key}`, {n}), 0) = {i}")
            o_where = f' WHERE coalesce(((("{key}" % {n}) + {n}) % {n}), 0) = {i}'
        problems = compare(
            s_part.toPandas(), con.execute(f"SELECT * FROM _oracle{o_where}").fetchdf()
        )
        if problems:
            return [f"chunk {i}/{n} on {key}: {p}" for p in problems] if n > 1 else problems
    return []


def check_one(name, sq, n_spark, con, oracles, report, t0, load1) -> int:
    """Compare one cached Spark result with its oracle; records the
    verdict in ``report`` and returns the number of failures (0/1)."""
    if name not in oracles:
        if name in APPROX_BOUND and name.removesuffix("_approx") in oracles:
            # bound gate vs the exact twin's (hash-verified) oracle:
            # mirrors tests/test_wip.py's twin comparison so the
            # full-sweep artifact records a verdict, not ROWS_ONLY
            sdf = sq.toPandas()
            approx_col, tol = APPROX_BOUND[name]
            exact = con.execute(oracles[name.removesuffix("_approx")]).fetchdf()
            probs = []
            if len(sdf) != len(exact):
                probs.append(f"rows {len(sdf)} vs {len(exact)}")
            elif sorted(sdf.columns) != sorted(exact.columns):
                probs.append(f"cols {sorted(sdf.columns)} vs {sorted(exact.columns)}")
            else:
                keys = [c for c in sorted(sdf.columns) if c != approx_col]
                a = sdf.sort_values(keys, kind="mergesort").reset_index(drop=True)
                b = exact.sort_values(keys, kind="mergesort").reset_index(drop=True)
                try:
                    pd.testing.assert_frame_equal(
                        a[keys], b[keys], check_dtype=False, check_exact=True
                    )
                except AssertionError as exc:
                    probs.append(f"exact cols diverge: {str(exc)[:200]}")
                else:
                    err = (a[approx_col] - b[approx_col]).abs()
                    bound = (tol * b[approx_col]).clip(lower=1)
                    n_bad = int((err > bound).sum())
                    if n_bad:
                        probs.append(
                            f"{approx_col} out of {tol:.0%} bound on {n_bad} rows "
                            f"(max rel err {(err / b[approx_col].clip(lower=1)).max():.3f})"
                        )
            elapsed = round(time.time() - t0, 2)
            if probs:
                print(f"FAIL {name}: " + "; ".join(probs))
                report[name] = {
                    "status": "FAIL",
                    "spark_rows": len(sdf),
                    "err": "; ".join(probs)[:400],
                }
                return 1
            print(
                f"PASS {name}: bound check vs exact twin, "
                f"{len(sdf)} rows ({elapsed:.1f}s)"
            )
            report[name] = {
                "status": "BOUND_OK",
                "spark_rows": len(sdf),
                "oracle_rows": len(exact),
                "sec": elapsed,
                "load1": load1,
            }
            return 0
        print(f"ok?  {name}: rows-only check, {n_spark} rows ({time.time()-t0:.1f}s)")
        report[name] = {"status": "ROWS_ONLY", "spark_rows": n_spark}
        return 0
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {oracles[name]}")
        n_oracle = con.execute("SELECT count(*) FROM _oracle").fetchone()[0]
    except Exception as exc:
        print(f"FAIL {name}: oracle error: {exc}")
        report[name] = {"status": "FAIL", "err": f"oracle error: {exc}"[:400]}
        return 1
    try:
        if n_spark != n_oracle:
            # the row-count verdict needs no values; columns still show
            cols = con.execute("SELECT * FROM _oracle LIMIT 0").fetchdf().columns
            problems = [f"rows {n_spark} vs {n_oracle}"]
            if sorted(sq.columns) != sorted(cols):
                problems.append(f"cols {sorted(sq.columns)} vs {sorted(cols)}")
        elif n_spark > CHUNK_ROWS:
            problems = compare_chunked(sq, con, n_spark)
        else:
            problems = compare(sq.toPandas(), con.execute("SELECT * FROM _oracle").fetchdf())
    finally:
        con.execute("DROP TABLE IF EXISTS _oracle")
    elapsed = round(time.time() - t0, 2)
    if problems:
        print(f"FAIL {name}: " + "; ".join(problems))
        report[name] = {
            "status": "FAIL",
            "spark_rows": n_spark,
            "oracle_rows": n_oracle,
            "err": "; ".join(problems)[:400],
        }
        return 1
    print(f"PASS {name}: {n_spark} rows ({elapsed:.1f}s)")
    report[name] = {
        "status": "PASS",
        "spark_rows": n_spark,
        "oracle_rows": n_oracle,
        "sec": elapsed,
        "load1": load1,
    }
    return 0


def peak_rss_mb() -> float:
    """Peak resident set size of this process, in MB."""
    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def main() -> int:
    from pyspark import StorageLevel

    from dagster_etl_spark.plans.cache import release_pinned
    from dagster_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    # sized by session.default_cpus(): SPARK_GRAFT_CPUS, else the host
    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    report: dict[str, dict] = {}
    # Load context (r17 verdict task 6): gate seconds are used for
    # round-over-round plan triage but swing ~6x under sweep-time load
    # (kn_bigram_surprisal 2.25s -> 14.64s, code unchanged). Record the
    # 1-min loadavg at sweep start AND per query so a slow row can be
    # adjudicated as contention vs plan regression from the artifact.
    sweep_load = round(os.getloadavg()[0], 2)
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        load1 = round(os.getloadavg()[0], 2)
        t0 = time.time()
        sq = None
        try:
            sq = fn(spark, SF_DIR).persist(StorageLevel.DISK_ONLY)
            n_spark = sq.count()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            report[name] = {"status": "FAIL", "err": f"spark error: {exc}"[:400]}
            failures += 1
            if sq is not None:
                sq.unpersist()
            continue
        finally:
            release_pinned()
        try:
            failures += check_one(name, sq, n_spark, con, oracles, report, t0, load1)
        finally:
            sq.unpersist()
    spark.stop()
    if JSON_OUT and MERGE and Path(JSON_OUT).exists():
        prior = json.loads(Path(JSON_OUT).read_text())
        merged = dict(prior.get("queries", {}))
        merged.update(report)
        # drop rows for queries no longer registered (a rename would
        # otherwise leave a stale row inflating the total)
        merged = {n: r for n, r in merged.items() if n in qs}
        report = merged
        failures = sum(1 for r in report.values() if r["status"] == "FAIL")
    if JSON_OUT:
        n_pass = sum(1 for r in report.values() if r["status"] == "PASS")
        payload = {
            "sf_dir": SF_DIR,
            "loadavg_at_start": sweep_load,
            "total": len(report),
            "pass": n_pass,
            "rows_only": sum(1 for r in report.values() if r["status"] == "ROWS_ONLY"),
            "bound_ok": sum(1 for r in report.values() if r["status"] == "BOUND_OK"),
            "fail": failures,
            "peak_rss_mb": peak_rss_mb(),
            "queries": report,
        }
        Path(JSON_OUT).write_text(json.dumps(payload, indent=1, sort_keys=True) + "\n")
        print(f"wrote {JSON_OUT}: {n_pass} PASS / {failures} FAIL / {len(report)} total")
    print(f"peak RSS {peak_rss_mb()} MB")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
