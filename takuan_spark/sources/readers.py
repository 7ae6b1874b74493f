"""Batch JSON/CSV source readers (SURVEY.md §2.1 sources).

The service's log sources are not here: chunk directories are read by
``spark.readStream.text`` in ``streaming.pipeline.compile_stream`` (the
checkpoint tracks consumed files, so a rotated file is simply a new
file, O1/O2), and single live files by the byte-offset ``filetail``
source (``sources/tail_source.py``, O1-O3).

Both readers return lazy DataFrames; schema/options are the only eager
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
