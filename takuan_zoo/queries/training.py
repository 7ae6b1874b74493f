"""Training-corpus construction queries (round-3 north-star additions,
SURVEY.md §2.2): semantic dedup, substring-span dedup, BM25 retrieval
(single and batched), deterministic shard assignment, the end-to-end
dedup accounting pipeline, Unicode NFC normalization, and the
duplicate-group size histogram.

Same contract as every other registry module: each query is a Spark
builder paired with DuckDB oracle SQL that re-derives the identical
result from the same parquet tables — md5-derived hashes and
literal-embedded centroids keep the sketchy parts engine-portable, and
double arithmetic is rounded to 6 decimals before any comparison /
output (the established guard: the engines' ~1e-15 summation-order
differences cannot flip a decision).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import (
    dedup,
    retrieval,
    similarity,
)
from takuan_zoo.operators.hashing import sql_md5_int
from takuan_zoo.operators.sampling import shard_assign
from takuan_zoo.operators.semdedup import semdedup_victims
from takuan_zoo.queries import query
from takuan_zoo.queries.northstar import _EMB_DIM, _sql_list

# ---------------------------------------------------------------- semdedup

_SEM_T = 0.4  # same "near" threshold the exact all-pairs query calibrated
_SEM_NLIST = 16
_SEM_SEED = 777


def _semdedup_sql() -> str:
    cents = similarity.fixed_centroids(_EMB_DIM, nlist=_SEM_NLIST, seed=_SEM_SEED)
    cent_rows = ", ".join(
        f"({j}, CAST({_sql_list(c)} AS DOUBLE[]))" for j, c in enumerate(cents)
    )
    return f"""
    WITH cents(cell, cv) AS (SELECT * FROM (VALUES {cent_rows}) v(cell, cv)),
    n1 AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    dots AS (
        SELECT n1.vec_id, c.cell,
               list_dot_product(CAST(n1.embedding AS DOUBLE[]), c.cv) AS d,
               n1.nrm
        FROM n1 CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cell, ROUND(d / nrm, 6) AS c_sim FROM (
            SELECT vec_id, cell, d, nrm,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY ROUND(d, 6) DESC, cell) AS rn
            FROM dots
        ) WHERE rn = 1
    ),
    nv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS nv
        FROM n1
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, aa.cell,
               aa.c_sim AS ca, bb.c_sim AS cb,
               list_sum(list_transform(list_zip(a.nv, b.nv),
                        p -> p[1] * p[2])) AS sim
        FROM nv a
        JOIN assign aa ON aa.vec_id = a.vec_id
        JOIN nv b ON a.vec_id < b.vec_id
        JOIN assign bb ON bb.vec_id = b.vec_id AND bb.cell = aa.cell
    ),
    victims AS (
        SELECT CASE WHEN ca > cb THEN id_a ELSE id_b END AS vec_id,
               cell,
               CASE WHEN ca > cb THEN ca ELSE cb END AS c_sim
        FROM pairs WHERE sim >= {_SEM_T}
    )
    SELECT vec_id, cell, c_sim, CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM victims GROUP BY vec_id, cell, c_sim
    ORDER BY vec_id
    """


@query(
    "ns_semdedup",
    _semdedup_sql(),
    "SemDeDup (arXiv:2303.09540): cluster embeddings with the fixed IVF "
    "quantizer, compare pairs only within a cell, and drop the MORE "
    "prototypical member (higher centroid cosine) of every >=0.4 pair. "
    "Quadratic work is per-cell (bucketed block-pair GEMM), never "
    "corpus-wide; the oracle re-derives cells from the same centroid "
    "literals.",
)
def ns_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_victims(
        emb, threshold=_SEM_T, nlist=_SEM_NLIST, dim=_EMB_DIM, seed=_SEM_SEED
    )


# ------------------------------------------------------- substring dedup

_SPAN_N = 8


@query(
    "ns_substring_dedup",
    f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, i - 1 AS pos,
               substr(md5(array_to_string(
                   list_slice(t, i, i + {_SPAN_N - 1}), ' ')), 1, 16) AS h
        FROM toks,
             UNNEST(generate_series(1, greatest(len(t) - {_SPAN_N - 1}, 0)))
             AS g(i)
    ),
    nd AS (
        SELECT h, COUNT(DISTINCT doc_id) AS nd
        FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT s.doc_id, s.pos, nd.nd FROM sh s JOIN nd USING (h)),
    lagged AS (
        SELECT doc_id, pos, nd,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits
    ),
    isl AS (
        SELECT doc_id, pos, nd,
               SUM(CASE WHEN prev IS NULL OR pos > prev + {_SPAN_N}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM lagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) + {_SPAN_N - 1} AS INT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(MAX(nd) AS BIGINT) AS max_dup_docs
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
    "Substring-level exact dedup (arXiv:2107.06499, word-granular): "
    "8-gram inverted index -> n-grams in >=2 docs -> per-doc "
    "gaps-and-islands merge into maximal duplicated spans. The shuffle "
    "carries only duplicated-gram (hash, doc, pos) triples; the merge "
    "is a per-document window.",
)
def ns_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_spans(docs, n=_SPAN_N, min_docs=2)


# ------------------------------------------------------------------ BM25

_BM25_TERMS = ["hash", "spark", "vector"]
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "ns_bm25_search",
    f"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    lens AS (SELECT doc_id, len(t) AS dl FROM base),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens
    ),
    tf AS (
        SELECT doc_id, lower(w) AS term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM base, UNNEST(t) AS u(w)
        WHERE lower(w) IN ({", ".join(repr(t) for t in sorted(_BM25_TERMS))})
        GROUP BY doc_id, lower(w)
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1}
                      * (1.0 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
               ), 6) AS score
        FROM tf
        JOIN dfreq d USING (term)
        JOIN lens l USING (doc_id), stats s
        GROUP BY tf.doc_id
    )
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
    "BM25 top-10 keyword retrieval (k1=1.2, b=0.75, smoothed idf): "
    "inverted-index selection BEFORE any shuffle (only the query "
    "terms' posting lists move), no-explode doc lengths, one-row "
    "broadcast corpus stats, TakeOrderedAndProject top-k.",
)
def ns_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B
    )


_BM25_BATCH = [
    (0, ["spark", "hash"]),
    (1, ["vector", "window"]),
    (2, ["merge", "filter", "stream"]),
]


def _bm25_batch_sql() -> str:
    qrows = ", ".join(
        f"({qid}, {t!r})" for qid, terms in _BM25_BATCH for t in terms
    )
    return f"""
    WITH base AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    lens AS (SELECT doc_id, len(t) AS dl FROM base),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens
    ),
    qt(q_id, term) AS (SELECT * FROM (VALUES {qrows}) v(q_id, term)),
    vocab AS (SELECT DISTINCT term FROM qt),
    tf AS (
        SELECT doc_id, lower(w) AS term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM base, UNNEST(t) AS u(w)
        WHERE lower(w) IN (SELECT term FROM vocab)
        GROUP BY doc_id, lower(w)
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT qt.q_id, tf.doc_id,
               ROUND(SUM(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * tf.tf * (1.2 + 1.0)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
               ), 6) AS score
        FROM qt
        JOIN tf USING (term)
        JOIN dfreq d USING (term)
        JOIN lens l USING (doc_id), stats s
        GROUP BY qt.q_id, tf.doc_id
    )
    SELECT CAST(q_id AS INT) AS q_id, doc_id, score, rnk FROM (
        SELECT q_id, doc_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY score DESC, doc_id) AS INT) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk
    """


@query(
    "ns_bm25_batch",
    _bm25_batch_sql(),
    "Batch BM25 retrieval: top-5 docs for each of 3 queries in ONE "
    "plan — the query set explodes to (q_id, term) and rides a single "
    "inverted-index join against the corpus posting lists (one corpus "
    "scan for the whole batch); per-query top-k is a partitioned "
    "window, never a global sort.",
)
def ns_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(qid, terms) for qid, terms in _BM25_BATCH],
        "q_id int, terms array<string>",
    )
    return retrieval.bm25_batch_topk(
        docs, queries, k=5, k1=_BM25_K1, b=_BM25_B
    )


# -------------------------------------------------------- dedup pipeline


@query(
    "ns_dedup_pipeline",
    """
    WITH fp AS (
        SELECT doc_id, source, n_chars, text,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    keep_e AS (SELECT fp, MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
    kept_exact AS (SELECT f.* FROM fp f JOIN keep_e k ON f.doc_id = k.doc_id),
    toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM kept_exact
    ),
    sh0 AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rare AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    near AS (
        SELECT DISTINCT id_b AS doc_id FROM inter
        JOIN cnt ca ON id_a = ca.doc_id
        JOIN cnt cb ON id_b = cb.doc_id
        WHERE ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) >= 0.8
    ),
    kept AS (
        SELECT * FROM kept_exact
        WHERE doc_id NOT IN (SELECT doc_id FROM near)
    ),
    tot AS (SELECT source, COUNT(*) AS total FROM documents GROUP BY source),
    ae AS (SELECT source, COUNT(*) AS after_exact FROM kept_exact GROUP BY source),
    nd AS (
        SELECT ke.source, COUNT(*) AS near_dropped
        FROM kept_exact ke JOIN near USING (doc_id) GROUP BY ke.source
    ),
    ks AS (
        SELECT source, COUNT(*) AS kept_docs, SUM(n_chars) AS kept_chars
        FROM kept GROUP BY source
    )
    SELECT t.source,
           CAST(COALESCE(ks.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(ks.kept_chars, 0) AS BIGINT) AS kept_chars,
           CAST(t.total - COALESCE(ae.after_exact, 0) AS BIGINT) AS exact_dropped,
           CAST(COALESCE(nd.near_dropped, 0) AS BIGINT) AS near_dropped
    FROM tot t
    LEFT JOIN ae USING (source)
    LEFT JOIN ks USING (source)
    LEFT JOIN nd USING (source)
    ORDER BY t.source
    """,
    "End-to-end dedup pipeline report: exact fingerprint dedup -> "
    "3-gram Jaccard near-dup removal (dominated-id single-pass "
    "policy) -> per-source kept/dropped accounting. One DAG: 32-byte "
    "fingerprint shuffles, inverted-index near-dup discovery with the "
    "max_df=64 stop-shingle guard (quadratic-bucket bound, no-op at "
    "oracle SF), partial-aggregated counts; no iteration, no driver "
    "data.",
)
def ns_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.corpus_dedup_summary(docs, n=3, threshold=0.8, max_df=64)


@query(
    "ns_dup_size_histogram",
    """
    WITH fp AS (
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               COUNT(*) AS sz
        FROM documents GROUP BY fp
    )
    SELECT CAST(sz AS INT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM fp GROUP BY sz ORDER BY group_size
    """,
    "Duplicate-group size distribution — the dedup health diagnostic "
    "(how much of the corpus sits in how-big duplicate groups). Two "
    "chained aggregations over 32-byte fingerprints; output is as many "
    "rows as distinct group sizes, so the full corpus reduces to a "
    "handful of rows at any scale.",
)
def ns_dup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    sizes = (
        docs.select(fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("sz"))
    )
    return (
        sizes.groupBy("sz")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("sz").alias("n_docs"),
        )
        .select(
            F.col("sz").cast("int").alias("group_size"),
            F.col("n_groups").cast("bigint").alias("n_groups"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("group_size")
    )


# -------------------------------------------------- unicode normalization


@query(
    "ns_unicode_normalize",
    """
    WITH decorated AS (
        SELECT doc_id, text || ' cafe' || chr(769) AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS INT) AS raw_len,
           CAST(length(nfc_normalize(raw)) AS INT) AS norm_len,
           md5(nfc_normalize(raw)) AS norm_md5
    FROM decorated
    ORDER BY doc_id
    """,
    "Unicode NFC normalization gate: every document gets a decomposed "
    "suffix (e + combining acute) planted, then normalizes to the "
    "composed form — norm_len shrinks by exactly the combining marks "
    "and the md5 proves byte-identical composition across engines "
    "(Arrow pandas UDF over unicodedata vs DuckDB nfc_normalize). The "
    "curation step that makes byte-level dedup canonical-form-blind.",
)
def ns_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import nfc_normalize

    docs = load_table(spark, sf_dir, "documents")
    # explicitly DECOMPOSED suffix (e + U+0301), matching the oracle's
    # chr(769) — a source-file composed e-acute would not exercise NFC
    raw = F.concat(F.col("text"), F.lit(" cafe\u0301"))
    return (
        docs.select(
            "doc_id",
            F.length(raw).cast("int").alias("raw_len"),
            F.length(nfc_normalize(raw)).cast("int").alias("norm_len"),
            F.md5(nfc_normalize(raw)).alias("norm_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------- shard assign

_N_SHARDS = 8


@query(
    "ns_shard_assign",
    f"""
    WITH h AS (
        SELECT doc_id, source,
               {sql_md5_int("'42:' || CAST(doc_id AS VARCHAR)", hex_chars=15)} AS b
        FROM documents
    )
    SELECT doc_id, source,
           CAST(b % {_N_SHARDS} AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY b % {_N_SHARDS}
                ORDER BY b, doc_id) - 1 AS BIGINT) AS pos
    FROM h
    ORDER BY shard, pos
    """,
    "Deterministic training-order sharding: 60-bit md5 shard assignment "
    "(no shuffle) + per-shard hash-order position (parallel windows, "
    "never a global row_number) — reading shards in pos order is a "
    "uniform, rerun-stable permutation of the corpus.",
)
def ns_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        shard_assign(docs, key_col="doc_id", n_shards=_N_SHARDS, seed=42)
        .select("doc_id", "source", "shard", "pos")
        .orderBy("shard", "pos")
    )


# --------------------------------------------- BPE merge-step candidates


@query(
    "ns_bpe_merge_candidates",
    """
    WITH wf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                      x -> x <> '')) AS w
            FROM documents
        ) GROUP BY w
    ),
    pairs AS (
        SELECT substr(w, g.i, 2) AS pair,
               CAST(SUM(freq) AS BIGINT) AS n
        FROM wf, UNNEST(generate_series(1, length(w) - 1)) AS g(i)
        GROUP BY 1
    )
    SELECT pair, n FROM pairs
    ORDER BY n DESC, pair
    LIMIT 20
    """,
    "One scoring round of BPE tokenizer training: adjacent-symbol pair "
    "frequencies over the word-frequency table (the parallel-heavy "
    "inner loop — the argmax merge choice is driver-trivial once pairs "
    "are counted). Counting runs over the DISTINCT-word table weighted "
    "by frequency, so the pair shuffle is vocabulary-sized, not "
    "corpus-sized; top-k plans as TakeOrderedAndProject.",
)
def ns_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.explode(
        F.filter(
            F.split(F.lower(F.col("text")), r"[^a-z]+"), lambda x: x != ""
        )
    ).alias("w")
    wf = docs.select(w).groupBy("w").agg(F.count("*").alias("freq"))
    # sequence(1, 0) counts DOWN in Spark (DuckDB's generate_series is
    # empty): guard 1-char words explicitly or they emit bogus pairs.
    idx = F.when(
        F.length("w") >= 2, F.sequence(F.lit(1), F.length("w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = wf.select(
        F.explode(
            F.transform(idx, lambda i: F.col("w").substr(i, F.lit(2)))
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# --------------------------------------------- dedup-aware sample weights


@query(
    "ns_effective_corpus_size",
    """
    WITH fp AS (
        SELECT source, md5(text) AS fp FROM documents
    ),
    grp AS (
        SELECT fp, CAST(COUNT(*) AS BIGINT) AS dup_n FROM fp GROUP BY fp
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(1.0 / g.dup_n), 4) AS effective_docs,
           ROUND(SUM(1.0 / g.dup_n) / COUNT(*), 6) AS unique_mass
    FROM fp f JOIN grp g ON f.fp = g.fp
    GROUP BY f.source
    ORDER BY f.source
    """,
    "Dedup-aware sampling weights: every document weighs 1/dup_count "
    "(its fingerprint group size), so the per-source 'effective corpus "
    "size' counts each distinct text exactly once however many copies "
    "exist — the standard de-duplicated sampling correction applied "
    "WITHOUT dropping rows. Fingerprint counts join back by 16-byte "
    "md5 keys; both aggregations map-side combine.",
)
def ns_effective_corpus_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("source", F.md5("text").alias("fp"))
    grp = fp.groupBy("fp").agg(F.count("*").alias("dup_n"))
    return (
        fp.join(grp, "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.sum(F.lit(1.0) / F.col("dup_n")), 4).alias(
                "effective_docs"
            ),
            F.round(
                F.sum(F.lit(1.0) / F.col("dup_n")) / F.count("*"), 6
            ).alias("unique_mass"),
        )
        .orderBy("source")
    )


# ------------------------------------------------- corpus growth health


@query(
    "ns_epoch_novelty",
    """
    WITH fp AS (
        SELECT doc_id // 100 AS epoch, md5(text) AS fp FROM documents
    ),
    firsts AS (
        SELECT fp, MIN(epoch) AS first_epoch FROM fp GROUP BY fp
    )
    SELECT f.epoch,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN fi.first_epoch = f.epoch THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN fi.first_epoch = f.epoch THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS novelty_rate
    FROM fp f JOIN firsts fi ON fi.fp = f.fp
    GROUP BY f.epoch ORDER BY f.epoch
    """,
    "Novelty rate per ingestion epoch (epoch = doc_id div 100, the "
    "batch id a growing corpus carries): share of each epoch's "
    "documents whose fingerprint was never seen in an earlier epoch — "
    "the content-growth health curve that tells a crawl when it has "
    "started re-collecting itself. First-seen epoch is one min-"
    "aggregate over fingerprints; no cross-epoch self-join.",
)
def ns_epoch_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import materialize

    docs = load_table(spark, sf_dir, "documents")
    fp = materialize(
        docs.select(
            (F.col("doc_id") / 100).cast("bigint").alias("epoch"),
            F.md5("text").alias("fp"),
        )
    )
    firsts = fp.groupBy("fp").agg(F.min("epoch").alias("first_epoch"))
    novel = F.when(F.col("first_epoch") == F.col("epoch"), 1).otherwise(0)
    return (
        fp.join(firsts, "fp")
        .groupBy("epoch")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) / F.count("*"), 6).alias("novelty_rate"),
        )
        .orderBy("epoch")
    )


@query(
    "ns_duplication_pareto",
    """
    WITH grp AS (
        SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS dup_n
        FROM documents GROUP BY fp
    ),
    ranked AS (
        SELECT dup_n,
               ROW_NUMBER() OVER (ORDER BY dup_n DESC, fp) AS rnk,
               SUM(dup_n) OVER () AS total
        FROM grp
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, dup_n,
           ROUND(CAST(SUM(dup_n) OVER (ORDER BY rnk) AS DOUBLE) / total, 6)
               AS cum_share
    FROM ranked
    WHERE rnk <= 10
    ORDER BY rnk
    """,
    "Duplication Pareto curve: cumulative corpus share owned by the "
    "top-k most-duplicated texts — the dedup ROI diagnostic (a steep "
    "curve says a handful of boilerplate texts dominate; a flat one "
    "says exact dedup is already cheap). Fingerprint groups, a "
    "distributed top-10 (TakeOrderedAndProject), a broadcast scalar "
    "total, then the rank/cumsum windows over exactly 10 rows — the "
    "r11 sweep found the previous plan ranked ALL fingerprint groups "
    "in one single-partition window before the top-10 filter, a "
    "one-task sort at corpus scale.",
)
def ns_duplication_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    grp = docs.groupBy(F.md5("text").alias("fp")).agg(
        F.count("*").cast("bigint").alias("dup_n")
    )
    total = grp.agg(F.sum("dup_n").alias("total"))
    top = grp.orderBy(F.desc("dup_n"), "fp").limit(10)
    wr = Window.orderBy(F.desc("dup_n"), "fp")
    wc = Window.orderBy(F.desc("dup_n"), "fp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(wr).cast("bigint").alias("rnk"),
            "dup_n",
            F.round(
                F.sum("dup_n").over(wc).cast("double") / F.col("total"), 6
            ).alias("cum_share"),
        )
        .orderBy("rnk")
    )


@query(
    "ns_sft_mask_stats",
    """
    WITH base AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_words
        FROM documents
    ),
    conv AS (
        SELECT doc_id, source, n_words,
               CAST(CEIL(n_words / 16.0) AS BIGINT) AS n_turns,
               (n_words // 32) * 16
                 + GREATEST(0, n_words % 32 - 16) AS tok_assistant
        FROM base
        WHERE n_words > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_convs,
           CAST(SUM(n_turns) AS BIGINT) AS n_turns,
           CAST(SUM(n_words) AS BIGINT) AS tokens_total,
           CAST(SUM(tok_assistant) AS BIGINT) AS tokens_assistant,
           ROUND(SUM(tok_assistant) * 1.0 / SUM(n_words), 4) AS mask_ratio
    FROM conv
    GROUP BY source
    ORDER BY source
    """,
    "Instruction-data loss-mask accounting: documents become "
    "deterministic multi-turn conversations (16-word turns, user-first "
    "alternation — the stand-in for a chat-template parser; the "
    "accounting math is the real part) and the report totals the "
    "tokens a loss mask would train on (assistant turns only) per "
    "source. Assistant-token counts are CLOSED-FORM integer "
    "arithmetic — (n//32)*16 + max(0, n%32-16) — so no turn explode "
    "ever runs: per-conversation accounting costs one projection at "
    "any corpus size, the shape that matters when the SFT mix is "
    "re-audited per training run.",
)
def ns_sft_mask_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(words(F.col("text")))
    conv = docs.select(
        "source",
        n_words.alias("n_words"),
        F.ceil(n_words / 16.0).cast("bigint").alias("n_turns"),
        (
            (n_words - n_words % 32) / F.lit(2)
            + F.greatest(F.lit(0), n_words % 32 - 16)
        )
        .cast("bigint")
        .alias("tok_assistant"),
    ).where(F.col("n_words") > 0)
    return (
        conv.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_convs"),
            F.sum("n_turns").cast("bigint").alias("n_turns"),
            F.sum("n_words").cast("bigint").alias("tokens_total"),
            F.sum("tok_assistant").cast("bigint").alias("tokens_assistant"),
            F.round(
                F.sum("tok_assistant") * 1.0 / F.sum("n_words"), 4
            ).alias("mask_ratio"),
        )
        .orderBy("source")
    )


_PACK_EFF_LENGTHS = [64, 128, 256, 512]


@query(
    "ns_pack_efficiency",
    """
    WITH per_doc AS (
        SELECT lang,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents
    ),
    grid AS (
        SELECT lang, n_tok, v.L AS context_len
        FROM per_doc
        CROSS JOIN (VALUES (64), (128), (256), (512)) AS v(L)
    )
    SELECT lang,
           context_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST((SUM(n_tok) + context_len - 1) // context_len AS BIGINT)
               AS packed_seqs,
           CAST(SUM((n_tok + context_len - 1) // context_len) AS BIGINT)
               AS padded_seqs,
           CAST((SUM(n_tok) + context_len - 1) // context_len
                * context_len - SUM(n_tok) AS BIGINT) AS packed_pad,
           CAST(SUM((n_tok + context_len - 1) // context_len)
                * context_len - SUM(n_tok) AS BIGINT) AS padded_pad,
           ROUND(1.0 - ((SUM(n_tok) + context_len - 1) // context_len)
                 * 1.0
                 / SUM((n_tok + context_len - 1) // context_len), 4)
               AS saved_ratio
    FROM grid
    GROUP BY lang, context_len
    ORDER BY lang, context_len
    """,
    "Context-length planner: per stratum and candidate context length, "
    "the sequence count and padding mass under concat-then-chunk "
    "packing (ns_pack_sequences' semantics — padding only in each "
    "stratum's final bin) vs the pad-every-doc baseline, and the "
    "fraction of training sequences packing saves. Pure integer "
    "arithmetic per doc ((n+L-1)//L), one combiner-friendly "
    "aggregation keyed by (stratum, L) — the 4-length grid costs one "
    "pass at any corpus size; this is the table read before "
    "committing a context length to a training run.",
)
def ns_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words(F.col("text")))
    grid = docs.select(
        "lang",
        n_tok.alias("n_tok"),
        F.explode(
            F.array(*[F.lit(c) for c in _PACK_EFF_LENGTHS])
        ).alias("context_len"),
    )
    L = F.col("context_len")
    tot = F.sum("n_tok")
    packed = F.floor((tot + L - 1) / L)
    padded = F.sum(F.floor((F.col("n_tok") + L - 1) / L))
    return (
        grid.groupBy("lang", "context_len")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            tot.cast("bigint").alias("tokens_total"),
            packed.cast("bigint").alias("packed_seqs"),
            padded.cast("bigint").alias("padded_seqs"),
            (packed * L - tot).cast("bigint").alias("packed_pad"),
            (padded * L - tot).cast("bigint").alias("padded_pad"),
            F.round(1.0 - packed * 1.0 / padded, 4).alias("saved_ratio"),
        )
        .orderBy("lang", "context_len")
    )
