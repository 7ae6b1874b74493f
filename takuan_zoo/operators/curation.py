"""Corpus-curation operators for training-data pipelines (SURVEY.md
§2.2 north-star: "the operations a large-scale training-data pipeline
would need" beyond dedup/similarity).

Three production shapes; decontamination and packing are pure DataFrame
ops (codegen'd per-row work, shuffles only on small aggregate keys),
the repetition gate is a single Arrow-batched pass (see its docstring
for why a pandas UDF is the at-scale choice there):

- **Repetition filtering** (the Gopher/C4-style quality gate): documents
  dominated by repeated words / n-grams are SEO spam or boilerplate;
  compute duplicate-word and top-bigram fractions and gate on them.
- **Decontamination**: training documents sharing enough n-gram shingles
  with an evaluation/benchmark set must be dropped before training.
  Inverted-index join on hashed shingles — same linear discovery shape
  as Jaccard dedup, never all-pairs.
- **Sequence packing**: concat-then-chunk assignment of documents to
  fixed token-budget training sequences, deterministically, per stratum
  (running token total within each language; a doc starts in the bin its
  preceding cumulative total falls in). Per-stratum windows keep the
  sort bounded — the at-scale form packs within shards/partitions rather
  than one global ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from takuan_spark.operators.skew import spread
from takuan_zoo.operators.text import words


def repetition_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_word_frac: float = 0.6,
    max_top_bigram_frac: float = 0.1,
) -> DataFrame:
    """Per-document repetition metrics + keep decision.

    ``dup_word_frac`` = 1 - distinct_words/words (how much of the doc is
    re-used vocabulary); ``top_bigram_frac`` = count of the most frequent
    word bigram / total bigrams (boilerplate detector). Documents with
    fewer than two words have no bigrams and are absent from the output
    (matching the explode-based formulation and the SQL oracle).

    Implementation note — this is the one curation operator where a
    pandas UDF beats built-ins AT SCALE, deliberately: every metric is
    per-document, so the exploded-bigram groupBy formulation shuffles
    ~10x the corpus text through TWO wide exchanges only to reduce each
    document back to four integers. One Arrow-batched pass computes the
    same counts with a per-row Counter — zero shuffles, linear work,
    output already partitioned like the input. The UDF emits ONLY
    integer counts; fractions, rounding and the keep gate stay JVM-side
    expressions so oracle comparison semantics are unchanged.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _rep_counts_fn(texts):
        import re
        from collections import Counter

        # Java's \s is ASCII-only (unlike Python's): split identically
        # to text.words() = F.split(col, r"\s+") with empties dropped.
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        out = {"n_words": [], "n_distinct": [], "top_bg": [], "n_bg": []}
        for s in texts:
            toks = [t for t in ws.split(s or "") if t]
            n = len(toks)
            out["n_words"].append(n)
            out["n_distinct"].append(len(set(toks)))
            if n >= 2:
                c = Counter(zip(toks, toks[1:]))
                out["top_bg"].append(max(c.values()))
                out["n_bg"].append(n - 1)
            else:
                out["top_bg"].append(0)
                out["n_bg"].append(0)
        return pd.DataFrame(out)

    # `from __future__ import annotations` stringifies hints, which the
    # pandas_udf hint resolver can't evaluate — attach real ones instead.
    _rep_counts_fn.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    # asNondeterministic: the guide-§4.4 duplication trap, measured
    # live — the `where(n_bg >= 1)` below (and callers' `where(keep)`)
    # push past the projection and the optimizer re-evaluates the UDF
    # once per consumer: ns_curation_pipeline's physical plan carried
    # THREE ArrowEvalPython nodes of this one function. The
    # non-deterministic mark forbids duplicating/reordering it, so
    # every row pays the Counter pass exactly once; the blocked
    # filter-pushdown is irrelevant because the UDF must see every row
    # anyway (it IS the gate's input).
    _rep_counts = pandas_udf(
        _rep_counts_fn, "n_words int, n_distinct int, top_bg bigint, n_bg bigint"
    ).asNondeterministic()

    per_doc = (
        spread(docs)
        .select(F.col(id_col), _rep_counts(F.col(text_col)).alias("s"))
        .select(id_col, "s.n_words", "s.n_distinct", "s.top_bg", "s.n_bg")
        .where(F.col("n_bg") >= 1)
    )
    dup_frac = F.round(1 - F.col("n_distinct") / F.col("n_words"), 6)
    top_frac = F.round(F.col("top_bg") / F.col("n_bg"), 6)
    return per_doc.select(
        F.col(id_col),
        F.col("n_words"),
        dup_frac.alias("dup_word_frac"),
        top_frac.alias("top_bigram_frac"),
        (
            (dup_frac <= max_dup_word_frac) & (top_frac <= max_top_bigram_frac)
        ).alias("keep"),
    )


def contamination_flags(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Training docs contaminated by the benchmark set: at least
    ``min_shared`` distinct shared word ``n``-gram shingles with some
    benchmark document.

    Inverted-index join on int64-hashed shingles (8-byte shuffle keys):
    a (train, bench) pair is only materialized if it shares a shingle,
    and partial aggregation collapses per-pair counts before the final
    exchange. Output: (doc_id, n_bench_hits, max_shared) per
    contaminated training doc.

    ``max_df`` is the stop-shingle guard (the same contract as the
    dedup family): a shingle held by d_t train and d_b bench docs
    contributes d_t * d_b join rows, so one Zipfian boilerplate
    shingle makes the join quadratic in corpus size. Shingles whose
    total document frequency (train + bench) exceeds ``max_df`` are
    dropped as contamination evidence — ubiquitous shingles carry no
    overlap signal anyway.

    The df filter is a single window pass over the tagged union of
    both shingle sets (count over ``partitionBy(sh)``) rather than a
    separate df aggregation joined back into each side: one shuffle by
    ``sh`` replaces three (the agg exchange plus a rare-join exchange
    per side), and the persisted post-filter frame is already
    hash-partitioned by ``sh``, so the train-x-bench pair join reuses
    that distribution with no further exchange.
    """
    from takuan_zoo.operators.dedup import shingle_df

    t = shingle_df(train, text_col=text_col, id_col=id_col, n=n).select(
        F.col(id_col).alias("_id"), F.xxhash64("shingle").alias("sh"),
        F.lit(0).alias("_side"),
    )
    b = shingle_df(benchmark, text_col=text_col, id_col=id_col, n=n).select(
        F.col(id_col).alias("_id"), F.xxhash64("shingle").alias("sh"),
        F.lit(1).alias("_side"),
    )
    return _contamination_tail(
        t.unionAll(b), id_col=id_col, min_shared=min_shared, max_df=max_df
    )


def contamination_flags_split(
    docs: DataFrame,
    train_pred: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """:func:`contamination_flags` for the common case where train and
    benchmark are a predicate split of ONE table: shingles the corpus
    in a single scan (the two-frame form scans and shingles each side
    separately — at sf0.1 shingle generation is ~70% of the query, so
    one scan nearly halves it) and tags each shingle row with its side
    before the shared df-filter + inverted-index join tail.
    """
    from takuan_zoo.operators.dedup import ngram_array

    side = F.when(train_pred, F.lit(0)).otherwise(F.lit(1))
    tagged = spread(docs).select(
        F.col(id_col).alias("_id"),
        side.alias("_side"),
        F.explode(
            F.array_distinct(ngram_array(F.col(text_col), n))
        ).alias("shingle"),
    ).select("_id", F.xxhash64("shingle").alias("sh"), "_side")
    return _contamination_tail(
        tagged, id_col=id_col, min_shared=min_shared, max_df=max_df
    )


def _contamination_tail(
    tagged: DataFrame, *, id_col: str, min_shared: int, max_df: int | None
) -> DataFrame:
    """Shared tail over a ``(_id, sh, _side)`` shingle frame: optional
    stop-shingle filter, then the train-x-bench pair generation.

    With ``max_df`` set, everything keyed by ``sh`` happens in ONE
    exchange: a window count over ``partitionBy(sh)`` applies the df
    filter, and — still in the same ``sh``-partitioned stage, Catalyst
    chains the hash aggregate onto the window with no new shuffle —
    the surviving rows (≤ ``max_df`` per shingle, so every aggregation
    buffer is bounded) are collected into per-side id lists and
    exploded into (train, bench) pairs. That replaces the previous
    persist + split + self-join shape (df agg exchange, two rare-join
    exchanges, a pair-join exchange, plus the cache build) and at
    sf0.1 halves the query (2.4 s → 1.2 s, below the pre-cap r4
    number) while keeping the cap's worst-bucket guarantee.

    Without ``max_df`` the per-shingle lists are unbounded, so the
    classic two-sided inverted-index join runs instead (the frame is
    persisted so shingle generation feeds both branches once).
    """
    from takuan_zoo.operators.skew import materialize

    if max_df is not None:
        kept = tagged.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        ).where(F.col("_df") <= max_df)
        grouped = (
            kept.groupBy("sh")
            .agg(
                F.collect_list(
                    F.when(F.col("_side") == 0, F.col("_id"))
                ).alias("ts"),
                F.collect_list(
                    F.when(F.col("_side") == 1, F.col("_id"))
                ).alias("bs"),
            )
            .where((F.size("ts") > 0) & (F.size("bs") > 0))
        )
        shared = (
            grouped.select(F.explode("ts").alias("train_id"), "bs")
            .select("train_id", F.explode("bs").alias("bench_id"))
            .groupBy("train_id", "bench_id")
            .agg(F.count(F.lit(1)).alias("shared"))
            .where(F.col("shared") >= min_shared)
        )
    else:
        tagged = materialize(tagged)
        t = tagged.where(F.col("_side") == 0).select(
            F.col("_id").alias("train_id"), "sh"
        )
        b = tagged.where(F.col("_side") == 1).select(
            F.col("_id").alias("bench_id"), "sh"
        )
        shared = (
            t.join(b, on="sh")
            .groupBy("train_id", "bench_id")
            .agg(F.count("*").alias("shared"))
            .where(F.col("shared") >= min_shared)
        )
    return (
        shared.groupBy("train_id")
        .agg(
            F.count("*").alias("n_bench_hits"),
            F.max("shared").alias("max_shared"),
        )
        .select(
            F.col("train_id").alias(id_col), "n_bench_hits", "max_shared"
        )
    )


def pack_sequences(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    budget: int = 256,
) -> DataFrame:
    """Assign documents to fixed token-budget training sequences:
    concat-then-chunk semantics — docs are laid out in ``id_col`` order
    within each stratum, and a doc belongs to the sequence its preceding
    cumulative token total falls in (``seq_id = cum_before // budget``,
    ``seq_offset = cum_before % budget``).

    Deterministic (pure function of the data), rerun- and
    partitioning-invariant. The window sorts within strata only; at
    corpus scale the stratum is a shard key, so no global sort exists —
    ``repartitionByRange`` on (stratum, id) then per-partition windows is
    the same plan Spark produces here.
    """
    n_tok = F.size(words(F.col(text_col)))
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    return (
        spread(docs)
        .select(F.col(id_col), F.col(stratum_col), n_tok.alias("n_tok"))
        .select(
            id_col,
            stratum_col,
            "n_tok",
            F.floor(cum_before / budget).cast("long").alias("seq_id"),
            (cum_before % budget).alias("seq_offset"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    retrieval-pipeline chunking stage (size-token chunks, stride
    size-overlap, so consecutive chunks share ``overlap`` tokens).

    One narrow projection: tokenize, generate the stride start
    positions, explode, slice — no shuffle at all; chunking 100 TB is
    embarrassingly parallel and this plan keeps it that way. Output is
    one row per (doc, chunk) with the chunk's token span and text.
    """
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got {overlap=} {size=}")
    stride = size - overlap
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - F.lit(1), F.lit(0)),
        F.lit(stride),
    )
    out = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "start"),
    )
    chunk = F.slice(F.col("_toks"), F.col("start") + 1, size)
    return (
        out.where(F.col("start") < F.size("_toks"))
        .select(
            id_col,
            "chunk_id",
            F.col("start").alias("tok_start"),
            F.size(chunk).cast("int").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def filter_funnel(
    docs: DataFrame,
    stages: list[tuple[str, "F.Column"]],
    *,
    dedup_text_col: str | None = None,
) -> DataFrame:
    """Attrition report for a filter cascade: apply ``stages`` (ordered
    (name, predicate) pairs) CUMULATIVELY and report per-stage
    survivors and drops — the observability table every curation
    pipeline publishes ("raw 4.1B -> lang 2.9B -> quality 1.1B ->
    dedup 0.7B"). If ``dedup_text_col`` is set, a final exact-dedup
    stage counts one survivor per distinct content hash.

    One aggregation job, not one per stage: each row gets ``depth`` =
    number of consecutive leading predicates it survives (a codegen
    CASE chain), and every funnel level is a conditional aggregate of
    that single pass — survivors(s) = COUNT(depth >= s), the dedup
    level a conditional COUNT(DISTINCT md5). The distinct count is the
    cascade\'s only wide exchange. The k+2-row funnel is then unpivoted
    with ``stack``.

    Output: (stage, stage_name, survivors, dropped), stage 0 = input."""
    depth = F.lit(len(stages))
    for i in range(len(stages) - 1, -1, -1):
        # coalesce: a NULL predicate (e.g. lang = 'en' on NULL lang)
        # must count as FAILING the stage, exactly as .where(pred)
        # would drop the row — bare ~NULL is NULL and the row would
        # otherwise fall through as surviving the whole cascade.
        depth = F.when(
            ~F.coalesce(stages[i][1], F.lit(False)), F.lit(i)
        ).otherwise(depth)
    n = len(stages)
    staged = docs.select(
        depth.alias("_depth"),
        *(
            [F.col(dedup_text_col).alias("_text")]
            if dedup_text_col is not None
            else []
        ),
    )
    aggs = [
        F.sum((F.col("_depth") >= s).cast("bigint")).alias(f"_s{s}")
        for s in range(n + 1)
    ]
    names = ["input"] + [nm for nm, _ in stages]
    if dedup_text_col is not None:
        aggs.append(
            F.count_distinct(
                F.when(F.col("_depth") >= n, F.md5("_text"))
            )
            .cast("bigint")
            .alias(f"_s{n + 1}")
        )
        names.append("exact_dedup")
    one = staged.agg(*aggs)
    # unpivot via explode(array(struct)) rather than a stack() SQL
    # string: stage names are caller data, and interpolating them into
    # SQL would break on quotes/commas (injection-by-label).
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(nm).alias("stage_name"),
                F.col(f"_s{i}").alias("survivors"),
            )
            for i, nm in enumerate(names)
        ]
    )
    lag_w = Window.partitionBy(F.lit(1)).orderBy("stage")
    return (
        one.select(F.explode(rows).alias("_r"))
        .select("_r.stage", "_r.stage_name", "_r.survivors")
        .select(
            "stage",
            "stage_name",
            F.col("survivors").cast("bigint").alias("survivors"),
            F.coalesce(
                F.lag("survivors").over(lag_w) - F.col("survivors"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("dropped"),
        )
        .orderBy("stage")
    )


#: The published Gopher §A1.1 stopword list (Rae et al. 2021,
#: "Scaling Language Models: ... Gopher", appendix A1.1): a document
#: must contain at least two of these to pass the stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_lo: int = 50,
    word_hi: int = 100_000,
    stopwords: list[str] | None = None,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Per-document pass/fail flags for the Gopher quality-rule battery
    (Rae et al. 2021, appendix A1.1 — the public heuristic set behind
    MassiveWeb, reused by RefinedWeb/FineWeb):

    - ``gr_word_count``    — word count in [word_lo, word_hi]
    - ``gr_mean_word_len`` — mean word length in [3, 10]
    - ``gr_symbol_ratio``  — ('#' + '...') occurrences / words <= 1/10
    - ``gr_alpha_words``   — words containing a letter >= 4/5 of words
    - ``gr_stopwords``     — >= ``min_stopword_hits`` distinct stopwords
    - ``gr_top_word_mass`` — chars in the heaviest repeated word <= 1/5
      of non-space chars (the repetition proxy; cf. ``repetition_stats``
      for the duplicate-word/bigram-fraction variants)

    Every ratio threshold is an integer cross-multiplication
    (``10*sym <= words``, ``5*alpha >= 4*words``, ...) so the flags are
    exact and hash-identical across engines — no float division on the
    comparison path.

    Scale shape: five rules are pure codegen over one projection; the
    heaviest-word mass is ONE Arrow-batched pandas pass emitting a
    single integer per document (same zero-shuffle rationale as
    ``repetition_stats`` — the exploded groupBy formulation would push
    ~corpus-size token rows through two wide exchanges to reduce each
    doc back to one int). No shuffle anywhere: output stays partitioned
    like the input, and the battery report aggregates 6 booleans.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sw = list(stopwords if stopwords is not None else GOPHER_STOPWORDS)

    def _top_word_mass_fn(texts):
        import re
        from collections import Counter

        # ASCII \s split, identical to text.words() / repetition_stats
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        out = []
        for s in texts:
            toks = [t for t in ws.split(s or "") if t]
            if not toks:
                out.append(0)
                continue
            c = Counter(toks)
            out.append(max(n * len(w) for w, n in c.items()))
        return pd.Series(out, dtype="int64")

    top_word_mass = pandas_udf(_top_word_mass_fn, "long")

    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    chars_ns = F.length(F.regexp_replace(t, r"\s+", ""))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = F.floor(
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    )
    n_sym = n_hash + n_ell
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]")))
    sw_hits = None
    for s in sw:
        hit = F.array_contains(w, s).cast("int")
        sw_hits = hit if sw_hits is None else sw_hits + hit
    mass = top_word_mass(t)
    return docs.select(
        id_col,
        (n_words.between(word_lo, word_hi)).alias("gr_word_count"),
        (
            (n_words > 0)
            & chars_ns.between(3 * n_words, 10 * n_words)
        ).alias("gr_mean_word_len"),
        ((n_words > 0) & (10 * n_sym <= n_words)).alias("gr_symbol_ratio"),
        ((n_words > 0) & (5 * n_alpha >= 4 * n_words)).alias(
            "gr_alpha_words"
        ),
        (sw_hits >= min_stopword_hits).alias("gr_stopwords"),
        ((chars_ns > 0) & (5 * mass <= chars_ns)).alias("gr_top_word_mass"),
    )
