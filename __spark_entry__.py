"""Entry-point contract: the flagship query plus the registered query set.

``entry(spark)`` is the smoke check. ``queries()[name]`` runs a
registered query over a table directory, and ``oracle_sql()[name]`` is
the DuckDB SQL it must match (row count + schema + order-insensitive
value hash; ``tests/test_oracle.py`` runs that comparison).

The implementations live in ``takuan_spark.queries.takuan`` — each query
is registered there as a (Spark builder, DuckDB oracle SQL) pair so the
two dialects stay in sync next to each other.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from takuan_spark.queries import all_oracle_sql, all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's WHOLE pipeline end-to-end — raw
    log text (rendered from the events table) through tokenize, rules,
    datetime repair, geo enrichment, and the per-address report with
    first/last-seen (SURVEY.md §3.2-3.3) — one Catalyst plan, single
    fact scan, all-broadcast joins."""
    from takuan_spark.queries.takuan import q_log_pipeline_e2e

    return q_log_pipeline_e2e(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, by name."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every registered query."""
    return all_oracle_sql()
