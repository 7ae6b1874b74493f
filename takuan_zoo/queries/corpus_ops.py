"""Corpus governance + LM-filtering queries (operators/lm.py,
operators/corpus_stats.py, operators/binning.py).

Shared oracle plumbing: ``_PTOKS`` positions every whitespace token
per document (DuckDB has no WITH ORDINALITY; ``generate_subscripts``
over the split list is its positional explode), ``_BIGRAMS`` derives
adjacent pairs with a lag window — the exact mirrors of
``lm.positioned_tokens`` / ``lm.bigrams``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import (
    binning,
    corpus_stats,
    lm,
)
from takuan_zoo.queries import query

_PTOKS = r"""
    split AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           x -> x <> '') AS l
        FROM documents
    ),
    ptoks AS (
        SELECT doc_id, i - 1 AS pos, l[i] AS tok
        FROM (SELECT doc_id, l, generate_subscripts(l, 1) AS i FROM split)
    )
"""

_BIGRAMS = """
    bg AS (
        SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS w1,
               tok AS w2
        FROM ptoks
        QUALIFY w1 IS NOT NULL
    )
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@query(
    "ns_token_pmi",
    f"""
    WITH {_PTOKS},
    {_BIGRAMS},
    cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
    cx AS (SELECT tok, COUNT(*) AS c FROM ptoks GROUP BY 1),
    nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_bi FROM bg),
    nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_uni FROM ptoks)
    SELECT c.w1, c.w2, CAST(c.c_xy AS BIGINT) AS c_xy,
           ROUND(ln((c.c_xy / n_bi) / ((a.c / n_uni) * (b.c / n_uni))), 6)
               AS pmi
    FROM cxy c
    JOIN cx a ON a.tok = c.w1
    JOIN cx b ON b.tok = c.w2, nb, nu
    WHERE c.c_xy >= 5
    ORDER BY c_xy DESC, w1, w2 LIMIT 30
    """,
    "Collocation mining by pointwise mutual information over adjacent "
    "token pairs: two map-side-combined counts (bigram, unigram) + two "
    "scalar totals broadcast into the score projection — shuffle keys "
    "are tokens, never documents. Top-30 by frequency with stable "
    "tiebreaks.",
)
def ns_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = lm.token_pmi(_docs(spark, sf_dir), min_count=5)
    return out.orderBy(F.desc("c_xy"), "w1", "w2").limit(30)


@query(
    "ns_source_overlap",
    f"""
    WITH {_PTOKS},
    vocab AS (
        SELECT DISTINCT d.source AS g, p.tok
        FROM ptoks p JOIN documents d USING (doc_id)
    ),
    sizes AS (SELECT g, COUNT(*) AS nv FROM vocab GROUP BY 1),
    shared AS (
        SELECT a.g AS src_a, b.g AS src_b, COUNT(*) AS shared
        FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.g < b.g
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared,
           ROUND(shared / (sa.nv + sb.nv - shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.g = src_a
    JOIN sizes sb ON sb.g = src_b
    ORDER BY src_a, src_b
    """,
    "Pairwise vocabulary Jaccard between the corpus sources — the "
    "cross-source redundancy map. Inverted-index join on the token "
    "(shuffle width = distinct tokens x sources, independent of corpus "
    "size), one pair-count aggregate, two broadcast-sized size joins.",
)
def ns_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_stats.vocabulary_overlap(_docs(spark, sf_dir)).orderBy(
        "src_a", "src_b"
    )


@query(
    "ns_ngram_lm_stats",
    f"""
    WITH {_PTOKS},
    {_BIGRAMS},
    cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
    cx AS (SELECT tok, COUNT(*) AS c_x FROM ptoks GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM ptoks)
    SELECT c.w1, c.w2, CAST(c.c_xy AS BIGINT) AS c_xy,
           ROUND((c.c_xy + 0.5) / (x.c_x + 0.5 * v.v), 6) AS p_cond
    FROM cxy c JOIN cx x ON x.tok = c.w1, v
    ORDER BY c_xy DESC, w1, w2 LIMIT 50
    """,
    "Add-k-smoothed bigram language model (k=0.5) trained in one plan: "
    "conditional probabilities over observed pairs, top-50 by count. "
    "p_cond rounds to 6dp — the determinism anchor every downstream "
    "log starts from.",
)
def ns_ngram_lm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = lm.bigram_model(_docs(spark, sf_dir), add_k=0.5)
    return out.orderBy(F.desc("c_xy"), "w1", "w2").limit(50)


@query(
    "ns_perplexity_filter",
    f"""
    WITH {_PTOKS},
    {_BIGRAMS},
    cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
    cx AS (SELECT tok, COUNT(*) AS c_x FROM ptoks GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v FROM ptoks),
    model AS (
        SELECT c.w1, c.w2,
               ROUND((c.c_xy + 0.5) / (x.c_x + 0.5 * v.v), 6) AS p_cond
        FROM cxy c JOIN cx x ON x.tok = c.w1, v
    ),
    scored AS (
        SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(exp(AVG(-ln(m.p_cond))), 4) AS ppl
        FROM bg b JOIN model m ON m.w1 = b.w1 AND m.w2 = b.w2
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams, ppl, ppl <= 45.0 AS keep
    FROM scored ORDER BY doc_id
    """,
    "Perplexity quality gate (the CCNet/KenLM curation recipe): score "
    "every document's cross-entropy under the corpus-trained bigram "
    "LM, keep documents the model finds predictable (ppl <= 45). "
    "Train + score in ONE plan; the only model-sized exchange is the "
    "(w1, w2) model join, AQE-broadcast when small.",
)
def ns_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scored = lm.perplexity_scores(docs, add_k=0.5)
    return scored.select(
        "doc_id",
        "n_bigrams",
        "ppl",
        (F.col("ppl") <= 45.0).alias("keep"),
    ).orderBy("doc_id")


@query(
    "ns_dataset_card",
    f"""
    WITH {_PTOKS},
    toks AS (
        SELECT d.source, p.tok FROM ptoks p JOIN documents d USING (doc_id)
    ),
    tok_stats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
        FROM toks GROUP BY 1
    ),
    lang_ent AS (
        SELECT source,
               ROUND(ln(CAST(SUM(lc) AS DOUBLE))
                     - SUM(lc * ln(lc)) / SUM(lc), 6) AS lang_entropy
        FROM (SELECT source, lang, COUNT(*) AS lc
              FROM documents GROUP BY 1, 2)
        GROUP BY source
    ),
    doc_stats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY 1
    )
    SELECT d.source, n_docs, n_tokens, vocab,
           ROUND(n_tokens / CAST(n_docs AS DOUBLE), 4) AS mean_doc_tokens,
           min_chars, max_chars, lang_entropy
    FROM doc_stats d
    JOIN tok_stats USING (source) JOIN lang_ent USING (source)
    ORDER BY source
    """,
    "Per-source dataset card: docs, tokens, vocabulary, length "
    "profile, language-mix entropy — the release fact sheet. Three "
    "map-side-combined aggregates joined on the (tiny) source key.",
)
def ns_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_stats.dataset_card(_docs(spark, sf_dir)).orderBy("source")


@query(
    "ns_importance_weights",
    f"""
    WITH {_PTOKS},
    per AS (
        SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM ptoks p JOIN documents d USING (doc_id) GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total,
                   CAST(COUNT(*) AS DOUBLE) AS n_groups FROM per)
    SELECT source, n_tokens,
           ROUND(n_tokens / total, 6) AS share,
           ROUND(least(greatest((1.0 / n_groups) / (n_tokens / total),
                                0.2), 5.0), 6) AS weight,
           ROUND(n_tokens * least(greatest(
                     (1.0 / n_groups) / (n_tokens / total), 0.2), 5.0), 2)
               AS eff_tokens
    FROM per, tot ORDER BY source
    """,
    "Domain importance weights toward a uniform target mixture "
    "(DoReMi-degenerate): weight = target-share / observed-token-share "
    "clipped to [0.2, 5] — underrepresented sources oversample, "
    "dominant ones shrink. Corpus reduces to one scalar row per "
    "source before any arithmetic.",
)
def ns_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_stats.importance_weights(_docs(spark, sf_dir)).orderBy(
        "source"
    )


#: literal mixture plan + budget, embedded in both dialects
_MIX = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}
_BUDGET = 2_000_000


@query(
    "ns_mixture_schedule",
    f"""
    WITH {_PTOKS},
    per AS (
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM ptoks p JOIN documents d USING (doc_id) GROUP BY 1
    ),
    tgt AS (
        SELECT * FROM (VALUES
            {", ".join(f"('{k}', {v})" for k, v in _MIX.items())}
        ) t(lang, share)
    )
    SELECT p.lang, p.n_tokens,
           ROUND(COALESCE(t.share, 0.0), 6) AS target_share,
           ROUND(COALESCE(t.share, 0.0) * {float(_BUDGET)!r}, 2)
               AS alloc_tokens,
           ROUND(COALESCE(t.share, 0.0) * {float(_BUDGET)!r}
                 / p.n_tokens, 4) AS epochs,
           COALESCE(t.share, 0.0) * {float(_BUDGET)!r} / p.n_tokens > 1.0
               AS oversampled
    FROM per p LEFT JOIN tgt t USING (lang)
    ORDER BY lang
    """,
    "Training-mixture schedule: a literal target language mixture and "
    "token budget turn per-slice availability into epochs-to-draw, "
    "flagging slices that must repeat (epochs > 1). The corpus "
    "reduces to one row per language; the plan itself is broadcast "
    "arithmetic.",
)
def ns_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_stats.mixture_schedule(
        _docs(spark, sf_dir), _MIX, token_budget=_BUDGET
    ).orderBy("lang")


@query(
    "ns_quantile_bins",
    """
    WITH pr AS (
        SELECT o_orderpriority, o_totalprice,
               percent_rank() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice) AS p
        FROM orders
    ),
    binned AS (
        SELECT o_orderpriority,
               CAST(least(floor(p * 4), 3) AS INT) AS bin, o_totalprice
        FROM pr
    )
    SELECT o_orderpriority, bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(AVG(o_totalprice), 4) AS mean_val
    FROM binned GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "Equal-frequency (quartile) discretization of order value within "
    "each priority class, with the per-bin cutpoint profile a feature "
    "store persists. percent_rank-based so TIED values always share a "
    "bin — ntile's row-split would scatter ties nondeterministically "
    "under shuffle.",
)
def ns_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return binning.bin_profile(
        orders.select("o_orderpriority", "o_totalprice"),
        value_col="o_totalprice",
        group_cols=["o_orderpriority"],
        nbins=4,
    ).orderBy("o_orderpriority", "bin")


@query(
    "ns_vocab_oov",
    f"""
    WITH {_PTOKS.strip()},
    t AS (
        SELECT d.source, p.tok
        FROM ptoks p JOIN documents d USING (doc_id)
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
        ) ORDER BY c DESC, tok LIMIT 500
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS oov_rate
    FROM t LEFT JOIN vocab v USING (tok)
    GROUP BY source
    ORDER BY source
    """,
    "Tokenizer-coverage planning: the corpus top-500 vocabulary by "
    "frequency (deterministic (count desc, token) tiebreak) and each "
    "source's out-of-vocabulary token rate against it. The top-V is "
    "TakeOrderedAndProject over the token-count aggregate (bounded "
    "per-partition heaps, never a global sort of the vocabulary) and "
    "the OOV flag is a broadcast join of the 500-row vocab onto the "
    "token stream — one corpus-wide shuffle total, keyed by token.",
)
def ns_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats.oov_stats(docs, v=500).orderBy("source")


@query(
    "ns_zipf_fit",
    f"""
    WITH {_PTOKS.strip()},
    t AS (
        SELECT d.source, p.tok
        FROM ptoks p JOIN documents d USING (doc_id)
    ),
    counts AS (
        SELECT source, tok, COUNT(*) AS cnt FROM t GROUP BY source, tok
    ),
    ranked AS (
        SELECT source, cnt,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, tok) AS rank
        FROM counts
        QUALIFY rank <= 200
    ),
    pts AS (
        SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
               ln(CAST(cnt AS DOUBLE)) AS y
        FROM ranked
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_top,
           ROUND(covar_pop(y, x) / var_pop(x), 4) AS zipf_slope,
           ROUND(AVG(y) - covar_pop(y, x) / var_pop(x) * AVG(x), 4)
               AS zipf_intercept
    FROM pts
    GROUP BY source
    ORDER BY source
    """,
    "Zipf's-law fit per source: least-squares slope/intercept of "
    "ln(freq) on ln(rank) over each source's top-200 tokens — natural "
    "text sits near slope -1, template/machine text drifts shallow; a "
    "distribution-level quality signal no per-document score sees. "
    "The rank window orders the source's DISTINCT-token counts "
    "(vocabulary-sized, Heaps-law sublinear), never the token stream; "
    "slope is a closed-form covariance/variance aggregate.",
)
def ns_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats.zipf_fit(docs, top_k=200).orderBy("source")


@query(
    "ns_ks_drift",
    """
    WITH per AS (
        SELECT source, n_chars AS x, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT x FROM per),
    grp AS (SELECT source, SUM(c) AS n_g FROM per GROUP BY 1),
    tot AS (SELECT SUM(c) AS n_total FROM per),
    pooled AS (
        SELECT x, SUM(SUM(c)) OVER (ORDER BY x) AS cum_all
        FROM per GROUP BY x
    ),
    cgrid AS (
        SELECT g.source, g.n_g, gr.x, COALESCE(p.c, 0) AS cg
        FROM grp g CROSS JOIN grid gr
        LEFT JOIN per p ON p.source = g.source AND p.x = gr.x
    ),
    cum AS (
        SELECT source, n_g, x,
               SUM(cg) OVER (PARTITION BY source ORDER BY x) AS cum_g
        FROM cgrid
    )
    SELECT c.source, CAST(c.n_g AS BIGINT) AS n_docs,
           ROUND(MAX(ABS(c.cum_g * t.n_total - p.cum_all * c.n_g))
                 / (c.n_g * t.n_total), 6) AS ks_d
    FROM cum c JOIN pooled p USING (x) CROSS JOIN tot t
    GROUP BY c.source, c.n_g, t.n_total
    ORDER BY source
    """,
    "Per-source two-sample Kolmogorov-Smirnov drift statistic of the "
    "document-length distribution against the pooled corpus — the "
    "distribution-level alarm for a source whose profile shifted "
    "between crawls. The ECDF difference is maximized on the exact "
    "INTEGER numerator |c_s*N - c*n_s| (constant denominator per "
    "source), so the argmax never compares floats and only one final "
    "division is rounded — the integer-composition discipline from "
    "the linkage-score fix applied to a whole statistic.",
)
def ns_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats.ks_drift(docs).orderBy("source")


@query(
    "ns_mad_outliers",
    """
    WITH med AS (
        SELECT source, median(n_chars) AS med,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    dev AS (
        SELECT d.source, m.n_docs, m.med,
               ABS(d.n_chars - m.med) AS adev
        FROM documents d JOIN med m USING (source)
    ),
    mad AS (
        SELECT source, n_docs, med, median(adev) AS mad
        FROM dev GROUP BY 1, 2, 3
    )
    SELECT m.source, m.n_docs, ROUND(m.med, 6) AS med,
           ROUND(m.mad, 6) AS mad,
           CAST(SUM(CASE WHEN dv.adev > 3.0 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM mad m JOIN dev dv USING (source)
    GROUP BY m.source, m.n_docs, m.med, m.mad
    ORDER BY source
    """,
    "Per-source robust outlier profile (median + MAD + robust-z "
    "gate at 3 sigma-equivalents) over document lengths — the gate "
    "that survives the outliers a mean/stddev gate moves with. Exact "
    "interpolated percentiles on integers agree bit-for-bit across "
    "engines (Spark percentile == DuckDB quantile_cont).",
)
def ns_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats.mad_outlier_stats(docs).orderBy("source")


@query(
    "ns_burstiness",
    f"""
    WITH {_PTOKS.strip()},
    pc AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM ptoks GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
    ),
    agg AS (
        SELECT tok, SUM(c) AS t, SUM(c * c) AS s2,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM pc GROUP BY 1
    )
    SELECT tok, df, CAST(t AS BIGINT) AS total,
           ROUND(CAST(n * s2 - t * t AS DOUBLE)
                 / CAST(n * t AS DOUBLE), 6) AS burstiness
    FROM agg CROSS JOIN tot
    WHERE df >= 5
    ORDER BY burstiness DESC, tok
    LIMIT 30
    """,
    "Per-token burstiness (Church-Gale variance-to-mean of per-doc "
    "counts, zeros included): ~1 = Poisson glue words, >>1 = bursty "
    "topical/template terms. The corpus-wide moment reduces to "
    "(N*S2 - T^2)/(N*T) over integer sums from only the docs that "
    "contain the token — all-integer until one final rounded "
    "division, so engines agree bit-for-bit.",
)
def ns_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats.token_burstiness(docs, min_df=5, top_k=30)


@query(
    "ns_template_mining",
    """
    WITH split AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS l
        FROM documents
    ),
    tpl AS (
        SELECT doc_id,
               array_to_string(
                   list_transform(
                       l[1:6],
                       x -> CASE
                              WHEN regexp_matches(x, '^[0-9]+$')
                                THEN '<num>'
                              WHEN regexp_matches(x, '[0-9]')
                                THEN '<mix>'
                              ELSE lower(x)
                            END),
                   ' ') AS template
        FROM split
    )
    SELECT template, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS example_doc_id
    FROM tpl
    GROUP BY template
    ORDER BY n_docs DESC, template
    LIMIT 25
    """,
    "Template mining on document openings: the first 6 token SHAPES "
    "(digit runs -> <num>, digit-bearing -> <mix>, else lowercase) "
    "counted corpus-wide — boilerplate intros and generated-text "
    "stems surface as high-count templates before any pairwise dedup "
    "runs. One scan + one groupBy on a short derived key.",
)
def ns_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import prefix_templates

    docs = load_table(spark, sf_dir, "documents")
    return prefix_templates(docs, n_tokens=6, top_k=25)


@query(
    "ns_quantile_normalize",
    """
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS src_rank,
               COUNT(*) OVER (PARTITION BY source) AS n_g
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    vc AS (
        SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY 1
    ),
    grid AS (
        SELECT v, SUM(c) OVER (ORDER BY v) - c AS lo,
               SUM(c) OVER (ORDER BY v) AS cum
        FROM vc
    ),
    idxed AS (
        SELECT r.doc_id, r.source, r.n_chars, r.src_rank,
               CASE WHEN r.n_g = 1 THEN (t.n + 1) // 2
                    ELSE ((r.src_rank - 1) * (t.n - 1) * 2 + (r.n_g - 1))
                         // (2 * (r.n_g - 1)) + 1
               END AS idx
        FROM ranked r CROSS JOIN tot t
    )
    SELECT i.doc_id, i.source, i.n_chars, CAST(i.src_rank AS INT)
               AS src_rank,
           g.v AS norm_value
    FROM idxed i JOIN grid g ON i.idx > g.lo AND i.idx <= g.cum
    ORDER BY doc_id
    """,
    "Cross-source quantile normalization by nearest rank: each doc's "
    "length maps to the pooled-distribution value at its within-"
    "source quantile, so a global threshold treats sources fairly "
    "even when one scorer 'runs hot'. Pure integer rank arithmetic "
    "(round-half-up index, cumulative-count range lookup over the "
    "DISTINCT value grid) — no float appears anywhere, and the grid "
    "frame is bounded by the value domain, not the corpus.",
)
def ns_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.binning import quantile_normalize

    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize(
        docs.select("doc_id", "source", "n_chars"),
        value_col="n_chars",
        group_col="source",
        id_col="doc_id",
    ).orderBy("doc_id")


@query(
    "ns_manifest_hash",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars_total,
           CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15))
                         AS BIGINT))
                % 1152921504606846976 AS BIGINT) AS manifest_hash
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    "Per-source corpus manifest stamp: an ORDER-INSENSITIVE sum of "
    "per-document content hashes mod 2^60 — two corpus builds match "
    "iff every document body matches, regardless of partitioning or "
    "ingest order (commutative reduction = map-side combinable). The "
    "reproducibility stamp a dataset release publishes next to its "
    "card; partial sums ride in decimal(38,0) (DuckDB HUGEINT) since "
    "bigint overflows after ~8 docs of 2^60-scale terms.",
)
def ns_manifest_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return corpus_stats.manifest_hash(docs).orderBy("source")


@query(
    "ns_text_augment",
    """
    WITH split AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS l
        FROM documents
    ),
    ptoks AS (
        SELECT doc_id, i - 1 AS pos, l[i] AS tok
        FROM (SELECT doc_id, l, generate_subscripts(l, 1) AS i
              FROM split)
    ),
    kept AS (
        SELECT doc_id, pos, tok
        FROM ptoks
        WHERE CAST(concat('0x',
                          substr(md5(doc_id || ':aug:' || pos), 1, 8))
                   AS BIGINT) % 10 <> 0
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS aug_text
        FROM kept GROUP BY doc_id
    )
    SELECT s.doc_id, CAST(len(s.l) AS INT) AS n_tokens,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.aug_text, '') AS aug_text
    FROM split s LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
    """,
    "Deterministic token-dropout augmentation (~10%): the drop mask "
    "is md5(id:salt:position), a pure function of content position — "
    "NOT an RNG — so every re-run, worker, and engine produces "
    "byte-identical augmented shards (per-worker RNGs make shards "
    "partition-order-dependent, the reproducibility bug this seeding "
    "removes). Pure array expressions, zero shuffles.",
)
def ns_text_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.operators.skew import spread
    from takuan_zoo.operators.text import token_dropout

    # spread: the per-token md5 sweep is the cost and the parquet
    # row-group count (12 at probe scale) would cap parallelism; no
    # presentation sort — a global orderBy of full augmented texts
    # more than doubled wall time (3.8 -> 8.8 s at 10x) for an
    # order-insensitive driver compare.
    docs = spread(load_table(spark, sf_dir, "documents"))
    return token_dropout(docs)
