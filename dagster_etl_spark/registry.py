"""Central query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 (plus the beyond-parity
scale operators) registers a named query here: a Spark program over the
driver fixture tables and, where SQL-expressible, a DuckDB oracle that
must produce the identical result (row count + schema + order-insensitive
value hash at sf0.01).

Determinism contract (why oracles match bit-for-bit):
* money/measure sums go through DECIMAL (exact, order-independent) and
  are cast to double only at the end;
* averages are exact-sum / count, divided in double the same way on
  both sides;
* every computed column is aliased identically in Spark and SQL;
* no floating ``round`` on values that could straddle a rounding
  boundary between engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""), tags)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in all_queries().items() if s.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all query-defining modules exactly once."""
    global _LOADED
    if _LOADED:
        return
    from dagster_etl_spark import queries_layout  # noqa: F401
    from dagster_etl_spark import queries_llm  # noqa: F401
    from dagster_etl_spark import queries_multimodal  # noqa: F401
    from dagster_etl_spark import queries_parity  # noqa: F401
    from dagster_etl_spark import queries_scale  # noqa: F401
    from dagster_etl_spark import queries_streaming  # noqa: F401
    from dagster_etl_spark import queries_temporal  # noqa: F401
    from dagster_etl_spark import queries_text  # noqa: F401

    _LOADED = True
