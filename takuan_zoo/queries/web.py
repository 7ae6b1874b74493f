"""Web-corpus domain curation queries (operators/web.py): URL → domain
rollups and DNS-suffix blocklist filtering, the domain-grain stage of a
web-scale training pipeline. URLs are synthesized deterministically
from (doc_id, source) so the DuckDB oracle re-derives them exactly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import web
from takuan_zoo.queries import query

#: deterministic host pool — mixes depths and shares registrable
#: suffixes so suffix matching (not string equality) is what's tested
_HOSTS = [
    "docs.example.com",
    "www.openweb.org",
    "spam.example.com",
    "mirror.badsite.net",
    "blog.openweb.org",
    "cdn.badsite.net",
    "example.com",
]
_BLOCKLIST = ["badsite.net", "spam.example.com"]

_HOST_CASE_SQL = " ".join(
    f"WHEN {i} THEN '{h}'" for i, h in enumerate(_HOSTS)
)
_URL_SQL = (
    f"'https://' || (CASE doc_id % {len(_HOSTS)} {_HOST_CASE_SQL} END)"
    " || '/' || source || '/' || CAST(doc_id AS VARCHAR)"
)
_SFX_SQL = (
    "list_transform(generate_series(1, len(string_split(domain, '.'))),"
    " i -> array_to_string(string_split(domain, '.')[i:], '.'))"
)
_BLOCK_SQL = (
    f"list_has_any({_SFX_SQL}, "
    f"[{', '.join(repr(b) for b in _BLOCKLIST)}])"
)


def _with_url(docs: DataFrame) -> DataFrame:
    host = F.element_at(
        F.array(*[F.lit(h) for h in _HOSTS]),
        (F.col("doc_id") % len(_HOSTS)).cast("int") + 1,
    )
    return docs.withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            host,
            F.lit("/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ),
    )


@query(
    "ns_domain_stats",
    f"""
    WITH d AS (
        SELECT *, {_URL_SQL} AS url FROM documents
    ),
    h AS (
        SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)
                   AS domain,
               lang, n_chars
        FROM d
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           {_BLOCK_SQL} AS blocked
    FROM h
    GROUP BY domain
    ORDER BY domain
    """,
    "Per-domain corpus rollup with DNS-suffix blocklist flag: one "
    "domain-keyed hash aggregation (shuffle carries domains, not "
    "documents) and a fully-codegen arrays_overlap suffix test — "
    "'badsite.net' flags 'cdn.badsite.net' with zero joins.",
)
def ns_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_url(load_table(spark, sf_dir, "documents"))
    return web.domain_stats(docs, blocklist=_BLOCKLIST).orderBy("domain")


@query(
    "ns_domain_filter",
    f"""
    WITH d AS (
        SELECT *, {_URL_SQL} AS url FROM documents
    ),
    h AS (
        SELECT doc_id, lang, n_chars,
               regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)
                   AS domain
        FROM d
    ),
    kept AS (SELECT * FROM h WHERE NOT {_BLOCK_SQL})
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept
    GROUP BY lang
    ORDER BY lang
    """,
    "Suffix blocklist filtering through the JOIN path (blocklist as a "
    "table, not a literal): docs explode their bounded suffix set, "
    "broadcast-semi-join the blocklist for hit ids, anti-join back, "
    "then per-language survivor rollup. The equi-join shape a 100 TB "
    "corpus needs — never an endswith theta-join.",
)
def ns_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_url(load_table(spark, sf_dir, "documents"))
    bl = docs.sparkSession.createDataFrame(
        [(b,) for b in _BLOCKLIST], "domain string"
    )
    kept = web.blocklist_filter(docs, bl)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )
