"""Zoo-only batch readers (JSON, CSV, ORC, Avro).

The service's log sources are not here: chunk directories are read by
``spark.readStream.text`` in ``takuan_spark.streaming.pipeline.
compile_stream``, and single live files by the byte-offset ``filetail``
source (``takuan_spark/sources/tail_source.py``).

The readers return lazy DataFrames; schema/options are the only eager
work. Explicit schemas are strongly preferred at scale — schema
inference is a full extra pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_json(
    spark: SparkSession, path: str, *, schema: StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    *,
    schema: StructType | str | None = None,
    header: bool = True,
) -> DataFrame:
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC batch source (built into Spark; same pushdown/pruning story
    as parquet — predicate pushdown, column pruning, stripe statistics)."""
    return spark.read.orc(path)


def read_avro(
    spark: SparkSession, path: str, *, schema: str | None = None
) -> DataFrame:
    """Avro batch source. The spark-avro module is an EXTERNAL package
    (not bundled with Spark); this raises a clear error where it is not
    deployed (as in this container) instead of Spark's generic
    data-source failure."""
    try:
        reader = spark.read.format("avro")
        if schema is not None:
            reader = reader.option("avroSchema", schema)
        return reader.load(path)
    except Exception as exc:  # pragma: no cover - depends on deployment
        raise RuntimeError(
            "Avro support requires the spark-avro package "
            "(--packages org.apache.spark:spark-avro_2.13:<spark version>); "
            "it is not deployed in this environment"
        ) from exc
