"""Record linkage / entity resolution operators.

Two halves of the classic Fellegi-Sunter pipeline, each mapped to its
scale-correct Spark shape:

- :func:`blocked_pairs` — BLOCKING: candidate pairs only form inside a
  cheap deterministic block key (language x length band). Within-block
  comparison is quadratic BY DESIGN — the block key is what bounds it
  (that is the entire point of blocking); the cross-block quadratic
  never happens. One shuffle on the block key.
- :func:`score_links` — SCORING: per-pair field-agreement features
  (token-set Jaccard, length ratio, field equality) combined into a
  match score. Works over candidates from ANY discovery path — the
  blocked join here, or MinHash-LSH banding
  (operators/dedup.py:minhash_lsh_pairs) when no blocking key exists.

Token sets compare as DISTINCT sets (array_intersect/array_union), so
repeated words don't inflate agreement — and as 60-bit md5 INTS, not
strings: the token arrays ride the block-key shuffle and feed the
per-pair intersect/union, so fixed 8-byte elements cut both the
exchange volume and the set-op comparisons (the posting-list
discipline from operators/retrieval.py). Set Jaccard over the hashed
sets equals string-set Jaccard up to md5 collisions (~0 at any real
vocabulary, and the oracle applies the identical hash, so the
comparison stays bit-exact regardless)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators.hashing import md5_int
from takuan_zoo.operators.text import words


def _tok_set(text: Column) -> Column:
    return F.array_distinct(
        F.transform(words(text), lambda t: md5_int(t, hex_chars=15))
    )


def blocked_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    len_band: int = 200,
    min_jaccard: float = 0.5,
    prefix_token: bool = False,
    max_block: int | None = 64,
) -> DataFrame:
    """Within-block linked pairs: block key = (lang, floor(len/band))
    — plus the record's FIRST TOKEN when ``prefix_token`` is set —
    pairs with distinct-token Jaccard >= ``min_jaccard``. Output:
    (id_a, id_b, lang, len_band, jaccard).

    Block-key selectivity IS the scale contract: within-block cost is
    quadratic by design, so the key must keep the biggest block
    bounded as the corpus grows. (lang, band) alone has O(langs x
    bands) distinct values — block sizes then grow LINEARLY with the
    corpus and the join quadratically; measured 28x pair-mass
    reduction on the test corpus from adding the first-token
    component (multi-attribute blocking, the standard fix). Callers
    with a natural high-cardinality key should always include one.

    ``max_block`` is the HARD bound (the ``max_df`` contract on block
    keys): even a selective key has Zipfian outliers — a frequent
    first token ("the") recreates the degenerate block at scale.
    Blocks holding more than ``max_block`` records are dropped from
    pairing entirely (deterministic, oracle-expressible), so pair
    count is <= n * max_block regardless of key skew. Records in a
    dropped block are not linked by this path — a corpus where that
    loss matters needs a more selective key (or the LSH discovery
    path in operators/dedup.py), not a bigger quadratic.
    ``max_block=None`` disables the guard.
    """
    from takuan_spark.operators.skew import spread
    from takuan_zoo.operators.skew import materialize

    block = ["lang", "lb"] + (["tok0"] if prefix_token else [])
    # spread: the tokenize+hash projection is the per-row CPU cost and
    # must run as wide as the cluster, not at the source file's
    # row-group granularity (a pandas-written parquet can put most
    # rows in one split — measured: one straggler task carrying an
    # 11-idle-core stage at probe scale).
    keyed = spread(docs).select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.floor(F.col(len_col) / len_band).cast("int").alias("lb"),
        *(
            [F.element_at(words(F.col(text_col)), 1).alias("tok0")]
            if prefix_token
            else []
        ),
        _tok_set(F.col(text_col)).alias("ts"),
    )
    if max_block is not None:
        # block census as a WINDOW count, not an aggregate + join: the
        # join form re-ran the tokenize+hash projection for the census
        # branch — a second full corpus pass that was 90% of wall
        # clock at the 100x probe scale (124.8 -> ~41 s). The window
        # shuffles once on the block key, which is also the self-join
        # key below, and the cached frame keeps that partitioning.
        from pyspark.sql import Window

        bc = F.count(F.lit(1)).over(Window.partitionBy(*block))
        keyed = (
            keyed.withColumn("_bc", bc)
            .where(F.col("_bc") <= max_block)
            .drop("_bc")
        )
    # the keyed frame feeds both sides of the block self-join below;
    # unmaterialized, the tokenize+hash projection runs once per side
    keyed = materialize(keyed)
    a = keyed.select(
        F.col("id").alias("id_a"), *block, F.col("ts").alias("ts_a")
    )
    b = keyed.select(
        F.col("id").alias("id_b"), *block, F.col("ts").alias("ts_b")
    )
    jac = F.size(F.array_intersect("ts_a", "ts_b")) / F.size(
        F.array_union("ts_a", "ts_b")
    )
    return (
        a.join(b, block)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "lang",
            F.col("lb").alias("len_band"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def score_links(
    candidates: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    source_col: str = "source",
    w_jaccard: float = 0.5,
    w_len: float = 0.3,
    w_lang: float = 0.2,
    threshold: float = 0.6,
) -> DataFrame:
    """Score candidate (id_a, id_b) pairs with linkage features and
    keep cross-source matches above ``threshold``:

    ``score = w_j * token_jaccard + w_len * len_ratio + w_lang *
    lang_agree`` — the linear Fellegi-Sunter surrogate. Only pairs
    from different sources survive (same-source pairs are dedup's
    business, not linkage's).

    The weighted combination is computed in SCALED INTEGERS (micro
    units, 1e6), not doubles: each 6-dp feature becomes a bigint,
    weights become bigint micro-weights, and the blend is
    ``(sum + half) div 1e6`` — round-half-up in exact integer
    arithmetic. A double blend of already-rounded features can land a
    half-ulp from a 6-dp tie point and round DIFFERENTLY per engine
    (observed: Spark 0.977143 vs DuckDB 0.977144 on one pair), which
    breaks cross-engine reproducibility of the match set itself."""
    meta = docs.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.col(len_col).alias("len"),
        F.col(source_col).alias("src"),
        _tok_set(F.col(text_col)).alias("ts"),
    )
    a = meta.select(
        F.col("id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("len").alias("len_a"),
        F.col("src").alias("src_a"),
        F.col("ts").alias("ts_a"),
    )
    b = meta.select(
        F.col("id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("len").alias("len_b"),
        F.col("src").alias("src_b"),
        F.col("ts").alias("ts_b"),
    )
    jac = F.size(F.array_intersect("ts_a", "ts_b")) / F.size(
        F.array_union("ts_a", "ts_b")
    )
    len_ratio = F.least(F.col("len_a"), F.col("len_b")) / F.greatest(
        F.col("len_a"), F.col("len_b")
    )
    lang_agree = (F.col("lang_a") == F.col("lang_b")).cast("int")
    # Micro-unit (1e6) integer weights/threshold: exact in any engine.
    scale = 10**6
    wj = int(round(w_jaccard * scale))
    wl = int(round(w_len * scale))
    wg = int(round(w_lang * scale))
    thr = int(round(threshold * scale))
    feat = (
        candidates.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .where(F.col("src_a") != F.col("src_b"))
        .select(
            "id_a",
            "id_b",
            "src_a",
            "src_b",
            F.round(jac, 6).alias("jaccard"),
            F.round(len_ratio, 6).alias("len_ratio"),
            lang_agree.alias("lang_agree"),
        )
        .withColumn(
            "jac6", F.round(F.col("jaccard") * scale, 0).cast("long")
        )
        .withColumn(
            "len6", F.round(F.col("len_ratio") * scale, 0).cast("long")
        )
        .withColumn(
            "score_micro",
            F.expr(
                f"({wj}L * jac6 + {wl}L * len6"
                f" + {wg}L * lang_agree * {scale}L"
                f" + {scale // 2}L) div {scale}L"
            ),
        )
    )
    return (
        feat.where(F.col("score_micro") >= thr)
        .select(
            "id_a",
            "id_b",
            "src_a",
            "src_b",
            "jaccard",
            "len_ratio",
            "lang_agree",
            (F.col("score_micro") / F.lit(float(scale))).alias("score"),
        )
    )
