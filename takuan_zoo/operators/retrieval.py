"""Lexical retrieval over a document corpus: BM25 scoring and top-k
search (SURVEY.md §2.2 north-star family — the keyword-search half of
the RAG surface whose vector half lives in operators/similarity.py; the
reference has no analog).

Scale shape (the part that matters at 100 TB): scoring starts from an
**inverted-index selection** — tokens are filtered to the query's terms
BEFORE any shuffle, so the exchanges carry only the query terms'
posting lists (per-doc term counts), never the corpus. Document length
normalization needs one corpus-wide stat (avgdl) and per-doc lengths;
lengths come from a no-explode ``size(words)`` projection and avgdl is
a one-row aggregate broadcast into the scoring projection, so no
driver-side action and no second pass over tokens.

All math is plain double arithmetic on integer counts, rounded at the
end — portable to any SQL engine, which is what the DuckDB oracle gate
needs (queries/training.py embeds the same formula).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from takuan_zoo.operators.skew import materialize
from takuan_zoo.operators.text import words


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-``k`` documents for ``query_terms`` (lowercased,
    whitespace tokenization — the corpus side mirrors it).

    score(D) = sum over query terms t present in D of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * |D| / avgdl))
    with the standard Robertson/Sparck-Jones smoothed idf
        ln(1 + (N - df + 0.5) / (df + 0.5)).

    Output: (doc_id, score, rnk), rnk 1..k by (score desc, doc_id) —
    planned as TakeOrderedAndProject, not a global sort.
    """
    terms = sorted({t.lower() for t in query_terms})
    base = docs.select(
        F.col(id_col), F.transform(words(F.col(text_col)), F.lower).alias("_w")
    )
    # Per-doc lengths + corpus stats in one scan: no explode, one row
    # per document. N and avgdl reduce to a single broadcastable row.
    lens = materialize(
        base.select(id_col, F.size("_w").alias("dl"))
    )
    stats = lens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # Inverted-index selection: explode, then keep ONLY query terms —
    # the filter sits under the aggregation, so the (doc, term) shuffle
    # carries the query's posting lists and nothing else.
    tf = (
        base.select(F.col(id_col), F.explode("_w").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    # top-k first (TakeOrderedAndProject over the scored frame), THEN
    # rank: the window runs over k rows, not the corpus.
    ranked = scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.col(id_col))
    return ranked.select(
        id_col, "score", F.row_number().over(w).cast("int").alias("rnk")
    )


def bm25_batch_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "q_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Batch BM25: top-``k`` documents for EVERY query in ``queries``
    (``(q_id, terms array<string>)``) in one plan — the shape a RAG
    ingest or an evaluation harness actually runs (thousands of queries
    against one corpus, never one-query-at-a-time jobs).

    Scale shape: the query set explodes to (q_id, term) and joins the
    corpus term-frequency table on ``term`` — one inverted-index join
    serves the whole batch, with per-query df/idf derived from the same
    frame. The corpus side is scanned once however many queries ride
    along; per-query top-k is a window over each query's candidates
    (partitioned, parallel), not a global sort.

    Output: (q_id, doc_id, score, rnk) with rnk 1..k per query by
    (score desc, doc_id).
    """
    base = docs.select(
        F.col(id_col), F.transform(words(F.col(text_col)), F.lower).alias("_w")
    )
    lens = materialize(base.select(id_col, F.size("_w").alias("dl")))
    stats = lens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    qt = materialize(
        queries.select(
            F.col(query_id_col).alias("q_id"),
            F.explode(
                F.array_distinct(F.transform(F.col(terms_col), F.lower))
            ).alias("term"),
        )
    )
    # corpus posting lists restricted to ANY query's terms (semi-join
    # keeps the filter before the tf aggregation's shuffle)
    vocab = qt.select("term").distinct()
    tf = (
        base.select(F.col(id_col), F.explode("_w").alias("term"))
        .join(F.broadcast(vocab), "term", "left_semi")
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    tf = materialize(tf)
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    scored = (
        qt.join(tf, "term")  # fan the posting lists out to the queries
        .join(F.broadcast(df_), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= k)
        .select("q_id", id_col, "score", "rnk")
        .orderBy("q_id", "rnk")
    )
