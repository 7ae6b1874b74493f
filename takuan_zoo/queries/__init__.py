"""The zoo's declared queries, registered into the service's registry.

Each zoo query module registers its (spark builder, oracle sql) pairs
with :func:`query` below, which files them in
``takuan_spark.queries.REGISTRY``. ``python -m takuan_spark`` never
imports this package, so ``--list-queries`` shows the service's queries
only; :func:`_load` (tests, ``takuan_zoo.bench``) adds the zoo's.

Every zoo query carries a DuckDB oracle. The sketch families (MinHash,
SimHash, LSH, IVF, PQ) are externally reproducible via md5-derived
hashes and literal-embedded hyperplanes/centroids/codebooks
(tests/test_northstar.py additionally pins their semantics against
independent Python implementations), and ``ns_minhash_prod_mode`` —
whose xxhash64 production hash family no external SQL engine can
reproduce — registers the family-parity claim as its query, so the
oracle only needs the SQL-expressible md5 side.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from takuan_spark.queries import REGISTRY, QueryFn, QuerySpec  # noqa: F401
from takuan_spark.queries import _load as _load_service
from takuan_spark.queries import query as _register

_loaded = False


def _released(fn: QueryFn) -> QueryFn:
    """Release the PREVIOUS query's materialize() caches when this one
    starts. Builders return lazy frames whose persisted inputs are only
    consumed by the caller's later action, so release-on-return would
    recompute exactly what materialize() exists to share — the earliest
    safe point is the next query's entry. The bench harness additionally
    clears per action; this wrapper covers long-lived sessions it doesn't
    own (pytest's shared session)."""
    from takuan_zoo.operators.skew import release_materialized

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_materialized()
        return fn(spark, sf_dir)

    return wrapped


def query(name: str, oracle_sql: str | None, description: str = ""):
    """Register a zoo (spark builder, oracle sql) pair under ``name``.

    The REGISTRY holds the builder wrapped by :func:`_released` (cache
    hygiene at query boundaries); the decorator returns the RAW
    function, so operators and tests composing builders directly are
    untouched."""

    def deco(fn: QueryFn) -> QueryFn:
        _register(name, oracle_sql, description or fn.__doc__ or "")(_released(fn))
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _load()
    return {n: s.builder for n, s in REGISTRY.items()}


def all_oracle_sql() -> dict[str, str]:
    _load()
    return {n: s.oracle_sql for n, s in REGISTRY.items() if s.oracle_sql is not None}


def _load() -> None:
    """Import the service's and the zoo's query modules (registration
    side effect), once."""
    global _loaded
    _load_service()
    if _loaded:
        return
    from takuan_zoo.queries import (  # noqa: F401
        advanced,
        bloom_filter,
        cdc,
        corpus_ops,
        curation,
        embedding_ops,
        governance,
        graph,
        ingest,
        linkage,
        maintenance,
        multimodal,
        northstar,
        prod_mode,
        relational,
        sketches,
        stateful_analog,
        stream_analog,
        training,
        udtf_surface,
        timeseries,
        web,
    )

    _loaded = True
