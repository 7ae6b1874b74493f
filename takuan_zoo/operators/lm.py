"""Corpus n-gram language-model operators: collocation mining (PMI),
bigram model estimation, and perplexity-based quality filtering.

The classic corpus-curation recipe (KenLM-style, as used by CCNet /
Wikipedia-LM filtering pipelines): train a small n-gram LM on the
corpus, score every document's cross-entropy under it, and gate on
perplexity — documents the model finds unpredictable are boilerplate,
encoding noise, or spam. Here the model is a bigram LM with add-k
smoothing, trained and applied in ONE Spark plan:

- counts are hash aggregates over (w1, w2) pairs produced by a lag
  window per document — shuffle keys are tokens, never documents;
- the model table (observed bigrams, <= vocab^2 rows but in practice
  ~unique bigram count) joins back to per-doc bigrams on (w1, w2);
  AQE broadcast-joins it when small, shuffle-joins when not;
- conditional probabilities are ROUNDED TO 6dp before the log so an
  external SQL engine scoring the same corpus derives bit-identical
  per-bigram surprisals (the remaining cross-engine wiggle is the
  summation order inside the per-doc average, absorbed by rounding
  the final perplexity).

At 100 TB none of this changes shape: token explode is narrow, both
aggregates are map-side-combined, and the model join is the only
exchange whose width is model-sized, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from takuan_zoo.operators.text import words


def positioned_tokens(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, tok): whitespace tokens with 0-based position."""
    return docs.select(
        F.col(id_col),
        F.posexplode(words(F.col(text_col))).alias("pos", "tok"),
    )


def bigrams(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w1, w2) adjacent-token pairs per document, in-order via a
    lag window over the exploded positions (one exchange on the doc
    id; a doc's tokens are co-partitioned with it)."""
    toks = positioned_tokens(docs, text_col=text_col, id_col=id_col)
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        toks.withColumn("w1", F.lag("tok").over(w))
        .where(F.col("w1").isNotNull())
        .select(id_col, "w1", F.col("tok").alias("w2"))
    )


def token_pmi(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Collocations by pointwise mutual information:
    ``pmi = ln((c_xy / N) / ((c_x / Nu) * (c_y / Nu)))`` over adjacent
    pairs — (w1, w2, c_xy, pmi) for pairs seen >= ``min_count`` times.
    Exact integer counts; the single float op is rounded to 6dp."""
    bg = bigrams(docs, text_col=text_col, id_col=id_col)
    uni = positioned_tokens(docs, text_col=text_col, id_col=id_col)
    c_xy = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    c_x = uni.groupBy("tok").agg(F.count("*").alias("c"))
    n_bg = bg.agg(F.count("*").cast("double").alias("n_bi"))
    n_un = uni.agg(F.count("*").cast("double").alias("n_uni"))
    pmi = F.log(
        (F.col("c_xy") / F.col("n_bi"))
        / (
            (F.col("cx") / F.col("n_uni"))
            * (F.col("cy") / F.col("n_uni"))
        )
    )
    return (
        c_xy.where(F.col("c_xy") >= min_count)
        .join(c_x.select(F.col("tok").alias("w1"), F.col("c").alias("cx")), "w1")
        .join(c_x.select(F.col("tok").alias("w2"), F.col("c").alias("cy")), "w2")
        .crossJoin(F.broadcast(n_bg))
        .crossJoin(F.broadcast(n_un))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.round(pmi, 6).alias("pmi"),
        )
    )


def bigram_model(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """Add-k-smoothed bigram conditional probabilities:
    ``p(w2|w1) = (c_xy + k) / (c_x + k * V)`` — (w1, w2, c_xy, p_cond)
    with p_cond rounded to 6dp (the cross-engine determinism anchor:
    every downstream log/sum starts from identical doubles)."""
    bg = bigrams(docs, text_col=text_col, id_col=id_col)
    uni = positioned_tokens(docs, text_col=text_col, id_col=id_col)
    c_xy = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    c_x = uni.groupBy("tok").agg(F.count("*").alias("c_x"))
    vocab = uni.agg(F.countDistinct("tok").cast("double").alias("v"))
    return (
        c_xy.join(c_x.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.round(
                (F.col("c_xy") + F.lit(add_k))
                / (F.col("c_x") + F.lit(add_k) * F.col("v")),
                6,
            ).alias("p_cond"),
        )
    )


def perplexity_scores(
    docs: DataFrame,
    model: DataFrame | None = None,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """(id, n_bigrams, ppl): per-document perplexity
    ``exp(avg(-ln p(w2|w1)))`` under the (given or corpus-trained)
    bigram model, rounded to 4dp. Documents with < 2 tokens score no
    bigrams and are omitted (no model evidence either way)."""
    if model is None:
        model = bigram_model(
            docs, text_col=text_col, id_col=id_col, add_k=add_k
        )
    bg = bigrams(docs, text_col=text_col, id_col=id_col)
    scored = bg.join(model.select("w1", "w2", "p_cond"), ["w1", "w2"])
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.exp(F.avg(-F.log("p_cond"))), 4).alias("ppl"),
        )
    )
