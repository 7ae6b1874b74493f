"""Batch and streaming source readers (SURVEY.md §2.1 sources).

The reference's one source is a byte-offset file tail (ref:
core/sensor.go:42-123, O1-O3). Spark's file source consumes whole new
files in a directory and tracks consumed files in the streaming
checkpoint — that replaces the hand-rolled ``sensor_states`` offset table
(ref: models/state.go:3-8) with zero code, and it is the contract that
scales: at 100 TB nobody tails one file; log shippers drop rotated chunks
into a directory/bucket. Rotation (O2, ref: core/sensor.go:60-68) is
therefore naturally handled: a rotated file is simply a new file.

All readers return lazy DataFrames; schema/options are the only eager
work. For JSON/CSV, explicit schemas are strongly preferred at scale —
schema inference is a full extra pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_text(spark: SparkSession, path: str, *, wholetext: bool = False) -> DataFrame:
    """Batch text source: one row per line, column ``value``."""
    return spark.read.option("wholetext", wholetext).text(path)


def stream_text(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming text source over a directory of log chunks (O1).

    ``maxFilesPerTrigger`` bounds micro-batch size — the scale knob that
    keeps a backlogged directory from producing one giant first batch.
    """
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


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
