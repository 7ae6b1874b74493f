"""Corpus governance operators: dataset cards, domain importance
weights, and training-mixture schedules.

These are the bookkeeping layer of a training-data pipeline — the
numbers that decide WHAT to train on before any tokens move:

- :func:`dataset_card` — the per-source fact sheet (docs, tokens,
  vocabulary, length profile, language-mix entropy) every corpus
  release ships with.
- :func:`importance_weights` — DoReMi-style domain reweighting: each
  source's sampling weight is target-share / observed-share, clipped,
  so underrepresented sources oversample and dominant ones shrink.
- :func:`mixture_schedule` — given a target language mixture and a
  token budget, how many epochs of each slice the dataloader must
  draw, flagging slices that repeat (epochs > 1).

All three reduce the corpus to per-group scalars with map-side
combined aggregates; the widest shuffle key is a (source, token) pair
for the vocabulary count. Nothing here grows with document size."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators.lm import positioned_tokens


def dataset_card(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    len_col: str = "n_chars",
) -> DataFrame:
    """One row per source: n_docs, n_tokens, vocab, mean_doc_tokens,
    min/max length, and the Shannon entropy (natural log) of the
    source's language distribution."""
    toks = positioned_tokens(docs, text_col=text_col, id_col=id_col).join(
        docs.select(id_col, group_col), id_col
    )
    tok_stats = toks.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("tok").cast("bigint").alias("vocab"),
    )
    lang_counts = docs.groupBy(group_col, lang_col).agg(
        F.count("*").alias("lc")
    )
    lang_ent = (
        lang_counts.groupBy(group_col)
        .agg(
            F.sum("lc").alias("n"),
            F.sum(F.col("lc") * F.log("lc")).alias("_sl"),
        )
        .select(
            group_col,
            F.round(
                F.log(F.col("n").cast("double")) - F.col("_sl") / F.col("n"),
                6,
            ).alias("lang_entropy"),
        )
    )
    doc_stats = docs.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min(len_col).cast("bigint").alias("min_chars"),
        F.max(len_col).cast("bigint").alias("max_chars"),
    )
    return (
        doc_stats.join(tok_stats, group_col)
        .join(lang_ent, group_col)
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            "vocab",
            F.round(F.col("n_tokens") / F.col("n_docs"), 4).alias(
                "mean_doc_tokens"
            ),
            "min_chars",
            "max_chars",
            "lang_entropy",
        )
    )


def vocabulary_overlap(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the contamination
    / redundancy map of a multi-source corpus. Discovery is an
    inverted-index join on the TOKEN (each token contributes its
    source-pair combinations), never a doc-level cross join; the output
    is one row per source pair (src_a < src_b) with shared / jaccard.
    Shuffle width is (distinct tokens x sources), corpus-size
    independent."""
    vocab = (
        positioned_tokens(docs, text_col=text_col, id_col=id_col)
        .join(docs.select(id_col, group_col), id_col)
        .select(F.col(group_col).alias("g"), "tok")
        .distinct()
    )
    from takuan_zoo.operators.skew import materialize

    vocab = materialize(vocab)
    sizes = vocab.groupBy("g").agg(F.count("*").alias("nv"))
    a = vocab.select(F.col("g").alias("src_a"), "tok")
    b = vocab.select(F.col("g").alias("src_b"), "tok")
    shared = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("g").alias("src_a"), F.col("nv").alias("na")),
            "src_a",
        )
        .join(
            sizes.select(F.col("g").alias("src_b"), F.col("nv").alias("nb")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("shared").cast("bigint").alias("shared"),
            F.round(
                F.col("shared")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


def importance_weights(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    clip_lo: float = 0.2,
    clip_hi: float = 5.0,
) -> DataFrame:
    """Per-source sampling weights toward a UNIFORM target mixture:
    ``w = clip((1/n_groups) / observed_token_share, lo, hi)`` — the
    degenerate (uniform-target) DoReMi reweighting. Output: (source,
    n_tokens, share, weight, eff_tokens = tokens * weight)."""
    toks = positioned_tokens(docs, text_col=text_col, id_col=id_col).join(
        docs.select(id_col, group_col), id_col
    )
    per = toks.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    totals = per.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_groups"),
    )
    share = F.col("n_tokens") / F.col("total")
    weight = F.least(
        F.greatest(
            (F.lit(1.0) / F.col("n_groups")) / share, F.lit(clip_lo)
        ),
        F.lit(clip_hi),
    )
    return per.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_tokens",
        F.round(share, 6).alias("share"),
        F.round(weight, 6).alias("weight"),
        F.round(F.col("n_tokens") * weight, 2).alias("eff_tokens"),
    )


def mixture_schedule(
    docs: DataFrame,
    target: dict[str, float],
    *,
    token_budget: int,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Epochs-per-slice plan for a target mixture: slice ``g`` must
    contribute ``target[g] * token_budget`` tokens, so the dataloader
    draws ``alloc / available`` epochs of it (> 1 means the slice
    repeats — the oversampling flag a mixture review looks for).
    ``target`` is a literal plan (weights over group values); groups
    absent from it get weight 0."""
    toks = positioned_tokens(docs, text_col=text_col, id_col=id_col).join(
        docs.select(id_col, group_col), id_col
    )
    per = toks.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    tgt = F.create_map(
        *[F.lit(x) for kv in target.items() for x in kv]
    )
    share = F.coalesce(F.element_at(tgt, F.col(group_col)), F.lit(0.0))
    alloc = share * F.lit(float(token_budget))
    epochs = alloc / F.col("n_tokens")
    return per.select(
        group_col,
        "n_tokens",
        F.round(share, 6).alias("target_share"),
        F.round(alloc, 2).alias("alloc_tokens"),
        F.round(epochs, 4).alias("epochs"),
        (epochs > 1.0).alias("oversampled"),
    )


def top_vocabulary(
    docs: DataFrame,
    *,
    v: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus's top-``v`` tokens by frequency: (tok, cnt, rank),
    rank 1 = most frequent, ties broken by token string ascending —
    the vocabulary a frequency-pruned tokenizer would keep.

    orderBy().limit(v) compiles to TakeOrderedAndProject — a bounded
    per-partition heap merged on one reducer, NEVER a global sort of
    the token-count frame. The count shuffle is keyed by token, so
    state is vocabulary-sized (Heaps-law sublinear), not corpus-sized.
    """
    from pyspark.sql import Window

    counts = (
        positioned_tokens(docs, text_col=text_col, id_col=id_col)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(v)
    )
    # rank over <= v rows: the window's single partition holds the
    # already-reduced top-v, a constant-size frame at any corpus SF
    w = Window.orderBy(F.desc("cnt"), "tok")
    return counts.select(
        "tok", "cnt", F.row_number().over(w).cast("int").alias("rank")
    )


def oov_stats(
    docs: DataFrame,
    *,
    v: int,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Out-of-vocabulary rate per group against the corpus top-``v``
    vocabulary: (group, n_tokens, n_oov, oov_rate) — the tokenizer-
    coverage question ("how much of source X would a v-word vocab
    fail to cover?") asked before committing a vocab size.

    The vocabulary is v rows → broadcast left join onto the token
    stream; no second shuffle of the corpus."""
    vocab = top_vocabulary(docs, v=v, text_col=text_col, id_col=id_col)
    toks = positioned_tokens(docs, text_col=text_col, id_col=id_col).join(
        docs.select(id_col, group_col), id_col
    )
    flagged = toks.join(
        F.broadcast(vocab.select("tok", F.lit(1).alias("_in"))),
        "tok",
        "left",
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            group_col,
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


def zipf_fit(
    docs: DataFrame,
    *,
    top_k: int = 200,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group Zipf's-law fit: least-squares slope/intercept of
    ln(freq) on ln(rank) over the group's ``top_k`` tokens. A natural
    corpus sits near slope -1; machine-generated or template text
    drifts shallow — a cheap distribution-level quality signal.

    The per-group rank needs an ordered window over the group's
    DISTINCT TOKENS (vocabulary-sized, Heaps-law sublinear in corpus
    size — never the token stream itself), filtered to top_k before
    the ln/regression math. Slope and intercept are closed-form
    covariance/variance aggregates — both engines compute the same
    formula and hand off at 6 dp."""
    from pyspark.sql import Window

    counts = (
        positioned_tokens(docs, text_col=text_col, id_col=id_col)
        .join(docs.select(id_col, group_col), id_col)
        .groupBy(group_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), "tok")
    ranked = counts.select(
        group_col,
        "cnt",
        F.row_number().over(w).alias("rank"),
    ).where(F.col("rank") <= top_k)
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("cnt").cast("double"))
    pts = ranked.select(group_col, x.alias("x"), y.alias("y"))
    agg = pts.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_top"),
        F.covar_pop("y", "x").alias("_cov"),
        F.var_pop("x").alias("_var"),
        F.avg("x").alias("_mx"),
        F.avg("y").alias("_my"),
    )
    slope = F.col("_cov") / F.col("_var")
    return agg.select(
        group_col,
        "n_top",
        F.round(slope, 4).alias("zipf_slope"),
        F.round(F.col("_my") - slope * F.col("_mx"), 4).alias(
            "zipf_intercept"
        ),
    )


def ks_drift(
    docs: DataFrame,
    *,
    value_col: str = "n_chars",
    group_col: str = "source",
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic of
    ``value_col`` against the POOLED corpus distribution — the standard
    drift alarm for "does source X's length/score profile still look
    like the corpus it feeds?". Output: (group, n_docs, ks_d).

    Cross-engine exactness: the ECDF difference is never compared in
    floating point. For counts c_g(x) (group docs <= x) and c(x) (all
    docs <= x), |c_g/n_g - c/N| maximizes exactly where the INTEGER
    numerator |c_g*N - c*n_g| does (the denominator n_g*N is constant
    per group), so the argmax runs on bigints and only the final
    division + 6dp round touches a double. Bigint holds to ~3e9 docs;
    beyond that switch the numerator to DECIMAL(38,0).

    Shape at scale: one groupBy on (group, value) — value domains like
    lengths/scores are bounded, so the grid frame is tiny regardless of
    corpus size — then windows over the value grid per group. No join
    touches the full corpus twice."""
    from pyspark.sql import Window

    per = docs.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # Every group must be evaluated at every pooled grid point: a step
    # in the pooled ECDF where the group has no mass still moves the
    # difference. Grid and group list are both tiny -> broadcast cross.
    grid = per.select(F.col(value_col).alias("x")).distinct()
    groups = per.groupBy(group_col).agg(F.sum("c").alias("n_g"))
    full = groups.crossJoin(F.broadcast(grid)).join(
        per.select(
            group_col, F.col(value_col).alias("x"), F.col("c").alias("cg")
        ),
        [group_col, "x"],
        "left",
    )
    wg = (
        Window.partitionBy(group_col)
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = (
        Window.partitionBy(F.lit(1))
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pooled = (
        per.groupBy(value_col)
        .agg(F.sum("c").alias("ca"))
        .select(F.col(value_col).alias("x"), "ca")
        .select("x", F.sum("ca").over(wall).alias("cum_all"))
    )
    total = per.agg(F.sum("c").cast("bigint").alias("n_total"))
    cum = (
        full.withColumn(
            "cum_g", F.sum(F.coalesce("cg", F.lit(0))).over(wg)
        )
        .join(F.broadcast(pooled), "x")
        .crossJoin(F.broadcast(total))
    )
    num = F.abs(
        F.col("cum_g") * F.col("n_total") - F.col("cum_all") * F.col("n_g")
    )
    return (
        cum.groupBy(group_col, "n_g", "n_total")
        .agg(F.max(num).alias("d_num"))
        .select(
            group_col,
            F.col("n_g").cast("bigint").alias("n_docs"),
            F.round(
                F.col("d_num") / (F.col("n_g") * F.col("n_total")), 6
            ).alias("ks_d"),
        )
    )


def mad_outlier_stats(
    docs: DataFrame,
    *,
    value_col: str = "n_chars",
    group_col: str = "source",
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier profile: median, MAD (median absolute
    deviation), and the count of values beyond ``k * 1.4826 * MAD``
    of the median — the standard robust z-score gate (1.4826 scales
    MAD to sigma under normality). Mean/stddev gates move with the
    outliers they hunt; median/MAD don't.

    Two exact-percentile passes (Spark ``percentile`` == DuckDB
    ``quantile_cont``: both interpolate (a+b)/2 on even counts, exact
    on integer inputs), joined back broadcast — per-group medians are
    one row per group, so neither pass re-shuffles the corpus beyond
    its groupBy."""
    med = docs.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    dev = docs.join(F.broadcast(med), group_col).select(
        group_col,
        "n_docs",
        "med",
        F.abs(F.col(value_col) - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy(group_col, "n_docs", "med").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    thr = F.lit(k) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(
            F.broadcast(mad.select(group_col, "mad")), group_col
        )
        .groupBy(group_col, "n_docs", "med", "mad")
        .agg(
            F.sum((F.col("adev") > thr).cast("bigint"))
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            group_col,
            "n_docs",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


def token_burstiness(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 5,
    top_k: int = 30,
) -> DataFrame:
    """Per-token burstiness (Church & Gale: variance-to-mean ratio of
    per-document counts, zeros included): ~1 for Poisson-scattered
    function words, >>1 for topical words that arrive in bursts — the
    distribution-level signal separating content terms from glue, used
    to pick keyword vocabularies and spot template spam (a term that
    appears 40x in a few docs and nowhere else).

    The VMR over all N docs is (N*S2 - T^2)/(N*T) for T = total count
    and S2 = sum of squared per-doc counts — zero-count docs contribute
    nothing to either sum, so the corpus-wide moment needs only the
    docs that CONTAIN the token. All-integer numerator/denominator;
    one final division rounds at 6dp (exact while N*S2 < 2^53 — at
    larger corpora move the moments to decimal). Two shuffles: (doc,
    token) counts, then token moments; top_k via TakeOrdered."""
    per_doc = (
        positioned_tokens(docs, text_col=text_col, id_col=id_col)
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    agg = per_doc.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("t"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    num = (F.col("n") * F.col("s2") - F.col("t") * F.col("t")).cast(
        "double"
    )
    den = (F.col("n") * F.col("t")).cast("double")
    return (
        agg.where(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            "df",
            F.col("t").alias("total"),
            F.round(num / den, 6).alias("burstiness"),
        )
        .orderBy(F.desc("burstiness"), "tok")
        .limit(top_k)
    )


def manifest_hash(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group corpus manifest stamp: (group, n_docs, n_chars_total,
    manifest_hash) where the hash is an ORDER-INSENSITIVE reduction of
    per-document content hashes — sum of each doc's
    (md5 first 15 hex digits as int) modulo 2^60. Two corpus builds
    match iff every (id-independent) document body matches, whatever
    partitioning or ingest order produced them — the reproducibility
    stamp a dataset release publishes next to its card.

    Commutative + associative by construction, so the map-side-combined
    distributed sum equals any serial computation; 15 hex digits keep
    each term under 2^60 and bigint partial sums exact far beyond any
    real group size (the modulo is taken once at the end, mirrored in
    SQL)."""
    term = (
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10)
        .cast("long")
        .cast("decimal(38,0)")  # bigint sum would overflow at ~2^3 docs
    )
    mod = F.lit(2**60).cast("decimal(38,0)")
    return docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length(text_col)).cast("bigint").alias("n_chars_total"),
        F.pmod(F.sum(term), mod).cast("bigint").alias("manifest_hash"),
    )


def laplace_noise(
    key: "F.Column", *, scale: float = 1.0, tag: str = "dp"
) -> "F.Column":
    """Deterministic Laplace(``scale``) noise derived from an md5
    uniform over ``key``: inverse-CDF transform of
    ``u = (md5_60bit(tag:key) + 0.5) / 2^60``. Deterministic seeding
    makes the release REPRODUCIBLE and oracle-checkable (a re-run or a
    second engine produces the identical noisy table); a production
    deployment that needs fresh randomness per release swaps the tag
    for a release nonce — the mechanism and its calibration are
    unchanged."""
    from takuan_zoo.operators.hashing import md5_int

    u = (
        md5_int(F.concat(F.lit(tag + ":"), key), hex_chars=15).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    centered = u - F.lit(0.5)
    return (
        -F.lit(scale)
        * F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )


def dp_histogram(
    df: DataFrame,
    group_cols: list[str],
    *,
    epsilon: float = 1.0,
    k_min: int = 5,
    tag: str = "dp",
    release: bool = False,
) -> DataFrame:
    """Differentially-private-style histogram release: per-group
    counts, k-anonymity-suppressed below ``k_min``, plus
    Laplace(1/epsilon) noise (:func:`laplace_noise`, seeded from the
    group key). One hash aggregation — partials combine map-side, the
    shuffle carries groups; noise is a codegen projection.

    ``release=False`` (the oracle/audit shape) outputs
    (group..., true_count, noisy_count rounded 4dp) — NOT a private
    release: it carries the exact count next to the noisy one, and the
    deterministic noise is a pure function of the group key, so anyone
    holding the tag reconstructs true counts exactly. It exists so the
    driver can hash-check the mechanism's calibration. A REAL release
    must (a) pass ``release=True``, which projects ``true_count`` out,
    and (b) swap ``tag`` for a secret per-release nonce so the noise is
    unpredictable to the recipient — only then does the Laplace
    mechanism's epsilon guarantee apply (modulo the k_min suppression,
    which leaks a below-threshold predicate like any k-anonymity gate).
    """
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    audited = (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .where(F.col("true_count") >= k_min)
        .select(
            *group_cols,
            "true_count",
            F.round(
                F.col("true_count")
                + laplace_noise(key, scale=1.0 / epsilon, tag=tag),
                4,
            ).alias("noisy_count"),
        )
    )
    return audited.drop("true_count") if release else audited
