"""Zoo-only batch readers (ORC, Avro). The service's readers live in
``takuan_spark.sources.readers``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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
