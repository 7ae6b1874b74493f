"""Zoo-only table helpers: the media table derived from ``documents``
and whole-catalog loading. Single tables load through
``takuan_spark.tables.load_table``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import TABLE_NAMES, load_table


def load_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the canonical media table (multimodal.MEDIA_SCHEMA) from
    ``documents``: payload = utf-8 bytes of the text (an opaque blob as
    far as the engine is concerned), kind/dimensions/duration assigned
    deterministically from doc_id. The same derivation is expressible in
    ANSI SQL, so multimodal queries stay oracle-checkable even though the
    decode itself runs in mapInPandas."""
    docs = load_table(spark, sf_dir, "documents")
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    kind = F.element_at(kinds, (F.col("doc_id") % 3 + 1).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        # Stored byte size: metadata queries aggregate THIS, so they
        # never deserialize the blob column (real multimodal tables
        # always carry size/checksum metadata next to the payload).
        F.length(F.encode("text", "utf-8")).alias("payload_bytes"),
        F.when(kind == "image", (F.pmod(F.col("doc_id") * 37, 1920) + 1).cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("width"),
        F.when(kind == "image", (F.pmod(F.col("doc_id") * 53, 1080) + 1).cast("int"))
        .otherwise(F.lit(None).cast("int"))
        .alias("height"),
        F.when(
            kind != "image",
            (F.pmod(F.col("doc_id") * 91, 30000) + 1000).cast("int"),
        )
        .otherwise(F.lit(None).cast("int"))
        .alias("duration_ms"),
        F.element_at(
            F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("format"),
    )


#: DuckDB CTE mirroring load_media — prepend to multimodal oracle SQL.
MEDIA_ORACLE_CTE = """
    media AS (
        SELECT doc_id AS media_id,
               ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
               encode(text) AS payload,
               CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
               CASE WHEN doc_id % 3 = 0
                    THEN CAST((doc_id * 37) % 1920 + 1 AS INT) END AS width,
               CASE WHEN doc_id % 3 = 0
                    THEN CAST((doc_id * 53) % 1080 + 1 AS INT) END AS height,
               CASE WHEN doc_id % 3 <> 0
                    THEN CAST((doc_id * 91) % 30000 + 1000 AS INT) END AS duration_ms,
               ['png', 'wav', 'mp4'][CAST(doc_id % 3 + 1 AS INT)] AS format
        FROM documents
    )
"""


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` queries work."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
