"""Seeded input generator: turns the read-only fixture tables into one
workload's inputs.

Only pyarrow and numpy run here, never Spark, so the program under test
sees nothing but the files this module writes. The same (workload, seed)
gives byte-identical files; another seed gives different ones:

* ``query_mix``: every sf0.1 table with its rows in a seeded order, one
  row group per file like the fixture. Row order changes no query result,
  so the registry's DuckDB oracles still apply.
* ``etl_daily``: sf0.1 ``lineitem``/``orders``/``part`` in seeded order,
  D consecutive ship dates picked by the seed, and an ``events`` copy whose
  ``ts`` is moved onto those dates. The fixture's events cover only
  2024-01, where no ship date falls, so without the move the
  ``equipment_event`` pipeline would extract zero rows.
* ``ingest_cadence``: slice 0 (the IVF-PQ training slice) and S daily
  slices built from the sf0.01 ``documents``/``embeddings``, each with
  fresh ids, a seeded letter rotation of the text and a seeded rotation of
  the vector, plus each slice's seeded standing-read queries.
"""

from __future__ import annotations

import datetime as dt
import os
import string
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

QUERY_MIX_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ETL_TABLES = ("lineitem", "orders", "part")
ETL_DAYS = 2
INGEST_SLICES = 1
INGEST_QUERIES = 5
EMB_DIM = 64


@dataclass
class Inputs:
    """What a workload reads: its directory, the files in it, and the
    workload-specific facts the timed phase and the oracles need."""

    root: str
    files: list[str] = field(default_factory=list)
    rows: int = 0
    dates: list[str] = field(default_factory=list)
    slices: list[str] = field(default_factory=list)

    @property
    def bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files)


def _write(table: pa.Table, path: str, inputs: Inputs) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    inputs.files.append(path)
    inputs.rows += table.num_rows


def _shuffled(src: str, rng: np.random.Generator) -> pa.Table:
    t = pq.read_table(src)
    return t.take(pa.array(rng.permutation(t.num_rows)))


def generate(workload: str, seed: int, fixtures: str, out: str, rounds: int = 1) -> Inputs:
    """Write ``workload``'s inputs for ``seed`` under ``out``; ``rounds``
    sizes the ingest slices so that every round gets fresh ones."""
    rng = np.random.default_rng(seed)
    if workload == "query_mix":
        return _query_mix(rng, f"{fixtures}/sf0.1", out)
    if workload == "etl_daily":
        return _etl_daily(rng, f"{fixtures}/sf0.1", out)
    if workload == "ingest_cadence":
        return _ingest_cadence(rng, f"{fixtures}/sf0.01", out, rounds)
    raise ValueError(f"unknown workload {workload!r}")


def _query_mix(rng: np.random.Generator, src: str, out: str) -> Inputs:
    inputs = Inputs(out)
    for name in QUERY_MIX_TABLES:
        _write(_shuffled(f"{src}/{name}.parquet", rng), f"{out}/{name}.parquet", inputs)
    return inputs


def _etl_daily(rng: np.random.Generator, src: str, out: str) -> Inputs:
    inputs = Inputs(out)
    for name in ETL_TABLES:
        _write(_shuffled(f"{src}/{name}.parquet", rng), f"{out}/{name}.parquet", inputs)

    ship = pq.read_table(f"{src}/lineitem.parquet", columns=["l_shipdate"]).column(0)
    days = np.unique(ship.to_numpy().astype("datetime64[D]"))
    have = set(days.tolist())
    starts = [
        d for d in days.tolist()
        if all(d + dt.timedelta(days=i) in have for i in range(ETL_DAYS))
    ]
    start = starts[int(rng.integers(len(starts)))]
    chosen = [start + dt.timedelta(days=i) for i in range(ETL_DAYS)]
    inputs.dates = [d.isoformat() for d in chosen]

    events = pq.read_table(f"{src}/events.parquet")
    ts = events.column("ts").to_numpy()
    day = ts.astype("datetime64[D]")
    k = (day - day.min()).astype(np.int64)
    keep = k < ETL_DAYS
    targets = np.array(chosen, dtype="datetime64[D]")[k[keep]]
    moved = (ts[keep] - day[keep]) + targets.astype(ts.dtype)
    events = events.filter(pa.array(keep))
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts",
        pa.array(moved, type=events.schema.field("ts").type),
    )
    _write(events, f"{out}/events.parquet", inputs)
    return inputs


def _rotate_text(texts: list[str], shift: int) -> list[str]:
    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    r1, r2 = shift % 25 + 1, (shift // 25) % 26
    table = str.maketrans(
        lower + upper, lower[r1:] + lower[:r1] + upper[r2:] + upper[:r2]
    )
    return [t.translate(table) if t is not None else None for t in texts]


def _ingest_cadence(rng: np.random.Generator, src: str, out: str, rounds: int) -> Inputs:
    inputs = Inputs(out)
    docs = pq.read_table(f"{src}/documents.parquet")
    emb = pq.read_table(f"{src}/embeddings.parquet")
    n_docs, n_emb = docs.num_rows, emb.num_rows
    doc_ids = docs.column("doc_id").to_numpy()
    vec_ids = emb.column("vec_id").to_numpy()
    vectors = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    texts = docs.column("text").to_pylist()
    for s in range(rounds * INGEST_SLICES + 1):
        d = f"{out}/s{s}"
        shift = int(rng.integers(1 << 16))
        roll = int(rng.integers(1, EMB_DIM))
        sl_docs = (
            docs.set_column(0, "doc_id", pa.array(doc_ids + s * n_docs))
            .set_column(
                docs.schema.get_field_index("text"), "text",
                pa.array(_rotate_text(texts, shift), pa.string()),
            )
        )
        sl_emb = emb.set_column(0, "vec_id", pa.array(vec_ids + s * n_emb)).set_column(
            emb.schema.get_field_index("embedding"), "embedding",
            pa.array(list(np.roll(vectors, roll, axis=1)), emb.schema.field("embedding").type),
        )
        _write(sl_docs, f"{d}/documents.parquet", inputs)
        _write(sl_emb, f"{d}/embeddings.parquet", inputs)
        pick_d = np.sort(rng.choice(n_docs, INGEST_QUERIES, replace=False))
        pick_e = np.sort(rng.choice(n_emb, INGEST_QUERIES, replace=False))
        _write(
            sl_docs.select(["doc_id", "text"]).take(pa.array(pick_d)),
            f"{d}/doc_queries.parquet", inputs,
        )
        _write(
            sl_emb.select(["vec_id", "embedding"]).take(pa.array(pick_e)),
            f"{d}/vec_queries.parquet", inputs,
        )
        inputs.slices.append(d)
    return inputs
