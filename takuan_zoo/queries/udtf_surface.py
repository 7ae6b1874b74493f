"""UDTF surface: the user-defined TABLE function API (SURVEY §2.1's
UDF/UDAF/UDTF rubric line — UDF and pandas-UDAF are pinned elsewhere;
this pins the one-row-to-many-rows form).

Engine guidance stands: explode/posexplode + array expressions cover
almost every lateral expansion JVM-side and are what the rest of the
engine uses. A Python UDTF is the escape hatch for expansions whose
row-generation logic genuinely needs Python; this query implements
tokenize-with-positions both ways semantically (the oracle is the
portable formulation) so the API surface is exercised and checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.queries import query


@query(
    "q_udtf_tokenize",
    """
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id, CAST(g.i - 1 AS INT) AS pos, t[g.i] AS token
    FROM base, UNNEST(generate_series(1, len(t))) AS g(i)
    ORDER BY doc_id, pos
    """,
    "Python UDTF (one row -> many rows with positions) applied via "
    "LATERAL join: tokenize-with-positions over a 1-in-20 document "
    "sample. The UDTF is Arrow-evaluated per partition (narrow, no "
    "shuffle); the oracle is the equivalent unnest-with-ordinality "
    "formulation, proving the UDTF against the portable relational "
    "form.",
)
def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class TokenizePositions:
        def eval(self, text: str):
            import re

            # Java-\s-compatible ASCII whitespace (matches text.words()).
            toks = [
                t
                for t in re.split(r"[ \t\n\x0b\f\r]+", text or "")
                if t
            ]
            for i, t in enumerate(toks):
                yield i, t

    spark.udtf.register("tokenize_positions", TokenizePositions)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 20 == 0
    )
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM _udtf_docs d, LATERAL tokenize_positions(d.text) t
        ORDER BY d.doc_id, t.pos
        """
    )


@query(
    "q_sql_function_surface",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> '')) AS INT) AS n_words,
           ROUND(CASE WHEN length(regexp_replace(text, '\s+', '', 'g')) > 0
                 THEN length(regexp_replace(text, '[\sA-Za-z0-9_]+', '',
                                            'g')) * 1.0
                      / length(regexp_replace(text, '\s+', '', 'g'))
                 ELSE 0.0 END, 6) AS punct,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           CAST(concat('0x', substr(md5(source), 1, 15)) AS BIGINT)
               AS src_h
    FROM documents
    ORDER BY doc_id
    """,
    "The SQL-registered function surface end-to-end: a pure-SQL user "
    "session (CREATE TEMPORARY FUNCTION takuan_* ... RETURN ..., "
    "Spark SQL scalar UDFs) computes word counts, punctuation ratio, "
    "normalized fingerprint, and the md5-60bit hash over documents. "
    "Bodies INLINE into the plan (no Python-UDF node — plan-asserted "
    "in tests), so the SQL API costs what the Column API costs.",
)
def q_sql_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.functions import register_sql_functions
    from takuan_spark.operators.skew import spread

    register_sql_functions(spark)
    # spread: four full-text regex passes per row are the cost; a
    # single-row-group scan would cap them at one core
    spread(load_table(spark, sf_dir, "documents")).createOrReplaceTempView(
        "_fn_docs"
    )
    return spark.sql(
        """
        SELECT doc_id,
               takuan_word_count(text) AS n_words,
               ROUND(takuan_punct_ratio(text), 6) AS punct,
               takuan_fingerprint(text) AS fp,
               takuan_md5_int60(source) AS src_h
        FROM _fn_docs
        ORDER BY doc_id
        """
    )
