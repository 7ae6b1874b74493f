"""Loaders for the driver test tables (TESTDATA.md).

One parquet file per table under ``{sf_dir}``. Loading stays lazy —
``spark.read.parquet`` only binds the schema; scans happen when a query
runs, so Catalyst can push filters/projections into the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Bound parquet schema per (sf_dir, table, file mtime). A bare
#: ``spark.read.parquet(path)`` runs a schema-inference job (one task,
#: ~70 ms measured) on EVERY call. The first load infers and later
#: loads pass the cached schema explicitly — what a catalog
#: (metastore/Iceberg manifest) provides at scale instead of footer
#: sniffing. The file's mtime is part of the key so a process that
#: regenerates a testdata file gets a fresh inference instead of a
#: silently-stale schema. Only METADATA is cached; every query still
#: scans the parquet data itself.
_SCHEMA_CACHE: dict = {}


def _schema_key(sf_dir: str, name: str) -> tuple:
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None  # let spark.read raise its own error on the path
    return (sf_dir, name, mtime)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table.

    ``events.ts`` has shipped in two physical forms across testdata
    generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as long — and a
    native µs timestamp. We branch on the bound schema: when ``ts`` comes
    back as a long (nanos-as-long conf), rebuild the timestamp at
    microsecond precision — lossless (the generator emits µs-aligned
    values) and matching DuckDB, which also reads this column at µs
    precision. When it is already a timestamp, normalize to TIMESTAMP_NTZ
    (naive, like DuckDB reads it) so downstream date_trunc/date_format is
    session-timezone-independent.
    """
    key = _schema_key(sf_dir, name)
    cached = _SCHEMA_CACHE.get(key)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        if cached is not None:
            df = spark.read.schema(cached).parquet(f"{sf_dir}/{name}.parquet")
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            _SCHEMA_CACHE[key] = df.schema
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            # Integer `div`, NOT floor(ts/1000): the double division loses
            # ~256 ns of precision at 2024-epoch nanos (1.7e18 > 2^53) and
            # shifts ~half of all timestamps by 1 µs.
            return df.withColumn(
                "ts",
                F.timestamp_add(
                    "MICROSECOND",
                    F.expr("ts div 1000"),
                    F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
                ),
            )
        if ts_type == "timestamp":
            # NOT a bare cast (goes through the SESSION timezone) and
            # NOT cast+convert_timezone (the cast to NTZ collapses the
            # DST fall-back repeated hour before the rebase can see the
            # offset, shifting those instants by -1h). unix_micros is an
            # instant -> integer map with no timezone table anywhere, so
            # epoch arithmetic onto an NTZ base reproduces the UTC wall
            # clock exactly for every instant in any session timezone —
            # the same derivation the nanos branch above uses.
            return df.withColumn(
                "ts",
                F.timestamp_add(
                    "MICROSECOND",
                    F.unix_micros(F.col("ts")),
                    F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
                ),
            )
        return df  # already timestamp_ntz
    if cached is not None:
        return spark.read.schema(cached).parquet(f"{sf_dir}/{name}.parquet")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _SCHEMA_CACHE[key] = df.schema
    return df
