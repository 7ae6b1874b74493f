"""The declared query registry: the reference's report semantics as
named queries over the ``events`` table.

Each query is a Spark DataFrame builder plus the equivalent DuckDB
oracle SQL. ``tests/test_oracle.py`` runs both sides and compares them
(row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically in both dialects;
- double aggregates are rounded in both (summation order differs between
  engines);
- counts are CAST to BIGINT in DuckDB (its SUM(int) widens to HUGEINT);
- orderings carry stable tiebreak keys, and string encodings (counter
  segments) are defined deterministically.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryFn
    oracle_sql: str | None
    description: str


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle_sql: str | None, description: str = ""):
    """Register a (spark builder, oracle sql) pair under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle_sql, description or fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {n: s.builder for n, s in REGISTRY.items()}


def all_oracle_sql() -> dict[str, str]:
    _load()
    return {n: s.oracle_sql for n, s in REGISTRY.items() if s.oracle_sql is not None}


def _load() -> None:
    """Import the query module (registration side effect)."""
    from takuan_spark.queries import takuan  # noqa: F401
