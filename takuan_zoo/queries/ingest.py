"""Ingest-format queries: the engine's file-format surface under the
driver's oracle gate.

The sources module (sources/readers.py) reads parquet/JSON/CSV/ORC;
pytest covers each reader, but a reader's PERMISSIVE quarantine path —
the part that matters when 100 TB of scraped JSONL contains garbage
lines — deserves a driver-checked row too. The round-trip query below
writes the documents table as JSONL plus deterministic corrupt lines,
reads it back through the real reader with an explicit schema and the
default `_corrupt_record` quarantine column (the name PERMISSIVE mode
routes malformed lines to — a differently-named field silently stays
NULL and corrupt rows masquerade as all-NULL data), and returns good rows + a quarantine-count
sentinel — so schema projection, parse, and quarantine are all
value-checked against an engine that never saw the files.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.queries import query

#: injected unparseable lines — every JSON reader must quarantine all 3
_CORRUPT_LINES = ["{not json", "[1,2", "}{"]


def _scratch(sf_dir: str, kind: str) -> str:
    from takuan_zoo.scratch import scratch_path

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = scratch_path(f"takuan_ingest_{kind}_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def _append_corrupt_lines(path: str, lines: list[str]) -> None:
    """Drop the corrupt fixture lines into the written dataset dir with
    a plain file write. The previous createDataFrame + coalesce(1) +
    append-mode write spent a whole Spark job submission on 3 literal
    strings — the roundtrip rows' cost is submission-count-bound
    (SCALE_PROBE 100x: 0.93x/1.07x on 100x data), so a driver-side
    handful-of-bytes write is the honest shape. Spark's text/JSON/CSV
    readers consume every data file in the directory regardless of
    name."""
    with open(os.path.join(path, "zz_corrupt.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


@query(
    "q_jsonl_roundtrip",
    f"""
    SELECT doc_id, lang, source, n_chars FROM documents
    UNION ALL
    SELECT -1 AS doc_id, 'corrupt' AS lang, 'corrupt' AS source,
           {len(_CORRUPT_LINES)} AS n_chars
    ORDER BY doc_id
    """,
    "JSONL ingest round-trip through the real reader: the documents "
    "table is serialized to JSON lines (plus 3 deterministic "
    "unparseable lines), read back with an explicit schema in "
    "PERMISSIVE mode, and the result is the parsed rows plus a "
    "sentinel row carrying the quarantine count — write, parse, "
    "schema projection, and the corrupt-record channel all "
    "value-checked. The write cost is in the benched window (honest "
    "ingest cost); at scale the same plan is one pass over the "
    "landing files with per-record quarantine, no driver state.",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.sources.readers import read_json

    path = _scratch(sf_dir, "jsonl")
    docs = load_table(spark, sf_dir, "documents")
    docs.selectExpr(
        "to_json(struct(doc_id, text, lang, source, n_chars)) AS value"
    ).write.mode("overwrite").text(path)
    _append_corrupt_lines(path, _CORRUPT_LINES)
    parsed = read_json(
        spark,
        path,
        schema=(
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint, _corrupt_record string"
        ),
    )
    good = parsed.where(F.col("_corrupt_record").isNull()).select(
        "doc_id", "lang", "source", "n_chars"
    )
    # Spark refuses plans whose referenced columns are ONLY the corrupt
    # record column of a raw JSON scan (and pruning reduces a
    # count-the-quarantined subtree to exactly that), so the quarantine
    # count is derived as raw text lines minus surviving rows — one
    # extra parse-free line-count scan, still a single lazy plan.
    n_lines = spark.read.text(path).agg(
        F.count(F.lit(1)).cast("bigint").alias("_total")
    )
    # count(doc_id), not count(1): pruning would otherwise strip the
    # subtree down to the corrupt column alone and trip the same rule
    n_good = good.agg(F.count("doc_id").cast("bigint").alias("_ok"))
    quarantined = n_lines.crossJoin(n_good).select(
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.lit("corrupt").alias("lang"),
        F.lit("corrupt").alias("source"),
        (F.col("_total") - F.col("_ok")).cast("bigint").alias("n_chars"),
    )
    return good.unionByName(quarantined).orderBy("doc_id")


#: malformed CSV lines: a field that fails its schema type conversion
#: (the condition Spark's PERMISSIVE CSV parser routes to the
#: corrupt-record column; wrong token COUNTS merely null-pad or drop
#: extras, by design)
_CORRUPT_CSV_LINES = [
    "notanumber,x,en,src0,10",
    "9000002,y,de,src1,notanumber",
]


@query(
    "q_csv_roundtrip",
    f"""
    SELECT doc_id, lang, source, n_chars FROM documents
    UNION ALL
    SELECT -1 AS doc_id, 'corrupt' AS lang, 'corrupt' AS source,
           {len(_CORRUPT_CSV_LINES)} AS n_chars
    ORDER BY doc_id
    """,
    "CSV ingest round-trip through the real reader: the documents "
    "table (free text with commas/quotes, so the writer's quoting is "
    "part of what's checked) plus 2 type-malformed lines, read "
    "back with an explicit schema in PERMISSIVE mode; rows whose "
    "fields fail type conversion land in _corrupt_record and are "
    "returned as a quarantine-count sentinel. Complements "
    "q_jsonl_roundtrip: CSV's malformed condition (type-cast "
    "failure; token-count mismatches null-pad) differs from JSON's, "
    "so both quarantine channels get a driver row. The raw-line "
    "count channel assumes one record per physical line (true of "
    "this corpus — no embedded newlines); a multiline-text corpus "
    "needs multiLine=true and a parsed-side quarantine count "
    "instead.",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.sources.readers import read_csv

    path = _scratch(sf_dir, "csv")
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).option("header", False).csv(path)
    _append_corrupt_lines(path, _CORRUPT_CSV_LINES)
    parsed = read_csv(
        spark,
        path,
        schema=(
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint, _corrupt_record string"
        ),
        header=False,
    )
    good = parsed.where(F.col("_corrupt_record").isNull()).select(
        "doc_id", "lang", "source", "n_chars"
    )
    n_lines = spark.read.text(path).agg(
        F.count(F.lit(1)).cast("bigint").alias("_total")
    )
    # CSV corrupt detection is COLUMN-PRUNING-DEPENDENT: a pruned
    # subtree that parses only doc_id never attempts the n_chars
    # conversion, so a row whose n_chars is malformed counts as good
    # there while the full projection quarantines it (off-by-one
    # sentinel, observed). Referencing every failable (numeric) column
    # in the count pins the same parse set as the main output.
    n_good = good.agg(
        F.count(F.expr("doc_id + n_chars")).cast("bigint").alias("_ok")
    )
    quarantined = n_lines.crossJoin(n_good).select(
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.lit("corrupt").alias("lang"),
        F.lit("corrupt").alias("source"),
        (F.col("_total") - F.col("_ok")).cast("bigint").alias("n_chars"),
    )
    return good.unionByName(quarantined).orderBy("doc_id")


@query(
    "q_orc_partition_prune",
    """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    "ORC round-trip through a hive-partitioned layout: write the "
    "documents table as ORC partitioned by lang, read it back with a "
    "lang predicate, roll up per (lang, source). The read plan prunes "
    "to the two matching partition directories (PartitionFilters — "
    "asserted by pytest), the storage behavior that turns a 100 TB "
    "scan into a per-partition one; ORC itself exercises the second "
    "columnar format end-to-end (writer + vectorized reader).",
)
def q_orc_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "orc")
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.select("doc_id", "text", "source", "n_chars", "lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .orc(path)
    )
    back = spark.read.orc(path).where(F.col("lang").isin("en", "de"))
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang", "source")
    )


@query(
    "q_schema_evolution",
    """
    WITH v AS (
        SELECT CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT)
                   AS batch,
               lang,
               CASE WHEN doc_id % 2 = 0 THEN NULL ELSE source END
                   AS source,
               CASE WHEN doc_id % 2 = 0 THEN NULL
                    ELSE n_chars % 97 END AS quality
        FROM documents
    )
    SELECT batch, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(source) AS BIGINT) AS n_source,
           CAST(COUNT(quality) AS BIGINT) AS n_quality,
           CAST(COALESCE(SUM(quality), 0) AS BIGINT) AS sum_quality
    FROM v GROUP BY batch, lang ORDER BY batch, lang
    """,
    "Parquet schema evolution under mergeSchema: batch=1 is written "
    "with the v1 schema (no source, no quality), batch=2 with the "
    "evolved v2 schema (adds source and a derived quality column); "
    "the read unions the footers (mergeSchema=true), discovers batch "
    "as a partition column, and the rollup proves the null-fill "
    "semantics for pre-evolution files — the lakehouse drift case a "
    "long-lived 100 TB table hits every time a producer adds a "
    "column. Footer merging costs one metadata pass; the data scan "
    "stays columnar and partition-discovered.",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "evolve")
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "lang", "n_chars"
    )
    v2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        (F.col("n_chars") % 97).cast("bigint").alias("quality"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.groupBy(F.col("batch").cast("int").alias("batch"), "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("source").cast("bigint").alias("n_source"),
            F.count("quality").cast("bigint").alias("n_quality"),
            F.coalesce(F.sum("quality"), F.lit(0))
            .cast("bigint")
            .alias("sum_quality"),
        )
        .orderBy("batch", "lang")
    )


#: two malformed XML records (root-wrapped so the tokenizer sees them):
#: a type-failing event_id and a truncated record — both must land in
#: the PERMISSIVE corrupt-record channel
_CORRUPT_XML = (
    "<events>"
    "<event><event_id>notanumber</event_id><user_id>1</user_id>"
    "<event_type>x</event_type></event>"
    "<event><event_id>7</event_id>"
    "</events>\n"
)
_N_CORRUPT_XML = 2


@query(
    "q_xml_roundtrip",
    f"""
    SELECT event_id, user_id, event_type FROM events
    UNION ALL
    SELECT -1 AS event_id, {_N_CORRUPT_XML} AS user_id,
           'corrupt' AS event_type
    ORDER BY event_id
    """,
    "XML ingest round-trip through Spark 4's NATIVE XML source — the "
    "one built-in file format (after parquet/JSON/CSV/ORC rows) with "
    "no driver coverage: the events table is written by the native "
    "XML writer (rootTag/rowTag documents), a root-wrapped corrupt "
    "fixture (type-failing field + truncated record) is dropped into "
    "the directory, and the real reader parses it all back in "
    "PERMISSIVE mode with an explicit schema + _corrupt_record "
    "quarantine channel. Output is every parsed row plus a sentinel "
    "carrying the quarantine count — write, tokenizer, schema "
    "projection, and the corrupt channel all value-checked against "
    "an engine that never saw the files. The quarantine count is "
    "total-minus-good (the jsonl/csv pattern; Spark refuses raw-scan "
    "subtrees whose only referenced column is the corrupt record, "
    "and pruning reduces a corrupt-count agg to exactly that), with "
    "the total from a corrupt-free minimal-schema read — PERMISSIVE "
    "yields an all-NULL row per malformed record there. XML files "
    "need one ROOT element each — multiple top-level row tags "
    "silently parse as one record + garbage, which is why the native "
    "writer (not a text dump of to_xml fragments) produces the "
    "files.",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "xml")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.select("event_id", "user_id", "event_type")
        .write.format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .mode("overwrite")
        .save(path)
    )
    with open(os.path.join(path, "zz_corrupt.xml"), "w") as fh:
        fh.write(_CORRUPT_XML)
    parsed = (
        spark.read.option("rowTag", "event")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(
            "event_id bigint, user_id bigint, event_type string, "
            "_corrupt_record string"
        )
        .xml(path)
    )
    good = parsed.where(F.col("_corrupt_record").isNull()).select(
        "event_id", "user_id", "event_type"
    )
    # quarantine count as total-minus-good (the jsonl/csv pattern):
    # Spark refuses raw-scan subtrees whose only referenced column is
    # _corrupt_record, and Catalyst prunes a combined agg down to
    # exactly that once the plan only consumes the corrupt count. The
    # total comes from a corrupt-free minimal-schema read (PERMISSIVE
    # yields an all-NULL row per malformed record there, so it counts
    # every record); the good count references event_id (non-null for
    # every written row) next to the corrupt-null filter.
    n_total = (
        spark.read.option("rowTag", "event")
        .option("mode", "PERMISSIVE")
        .schema("event_id bigint")
        .xml(path)
        .agg(F.count(F.lit(1)).cast("bigint").alias("_total"))
    )
    n_good = good.agg(F.count("event_id").cast("bigint").alias("_ok"))
    sentinel = n_total.crossJoin(n_good).select(
        F.lit(-1).cast("bigint").alias("event_id"),
        (F.col("_total") - F.col("_ok")).alias("user_id"),
        F.lit("corrupt").alias("event_type"),
    )
    return good.unionByName(sentinel).orderBy("event_id")
