"""Corpus-curation queries: the quality-gate / decontamination /
packing stages of a training-data pipeline (operators/curation.py),
each with a DuckDB oracle over the same documents table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import curation
from takuan_zoo.queries import query


@query(
    "ns_repetition_filter",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(t) AS n_words, len(list_distinct(t)) AS n_distinct, t
        FROM toks
    ),
    bg AS (
        SELECT doc_id, n_words, n_distinct, t[i] || ' ' || t[i+1] AS bg
        FROM base, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
    ),
    counts AS (
        SELECT doc_id, n_words, n_distinct, bg, COUNT(*) AS c
        FROM bg GROUP BY ALL
    ),
    per_doc AS (
        SELECT doc_id, n_words, n_distinct,
               MAX(c) AS top_bg, SUM(c) AS n_bg
        FROM counts GROUP BY doc_id, n_words, n_distinct
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           ROUND(1 - n_distinct * 1.0 / n_words, 6) AS dup_word_frac,
           ROUND(top_bg * 1.0 / n_bg, 6) AS top_bigram_frac,
           (ROUND(1 - n_distinct * 1.0 / n_words, 6) <= 0.6
            AND ROUND(top_bg * 1.0 / n_bg, 6) <= 0.1) AS keep
    FROM per_doc
    ORDER BY doc_id
    """,
    "Gopher/C4-style repetition quality gate: duplicate-word fraction + "
    "top-bigram fraction per document, with the keep decision. One "
    "explode + two-level agg; shuffle carries distinct (doc, bigram).",
)
def ns_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return curation.repetition_stats(
        docs, max_dup_word_frac=0.6, max_top_bigram_frac=0.1
    ).orderBy("doc_id")


@query(
    "ns_decontaminate",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    t AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 2 = 1),
    b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 2 = 0),
    rare AS (
        SELECT shingle FROM (
            SELECT shingle FROM t UNION ALL SELECT shingle FROM b
        ) GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    t_k AS (SELECT t.* FROM t JOIN rare USING (shingle)),
    b_k AS (SELECT b.* FROM b JOIN rare USING (shingle)),
    shared AS (
        SELECT train_id, bench_id, COUNT(*) AS shared
        FROM t_k JOIN b_k USING (shingle)
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3
    )
    SELECT train_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
           CAST(MAX(shared) AS BIGINT) AS max_shared
    FROM shared GROUP BY train_id
    ORDER BY doc_id
    """,
    "Benchmark decontamination: odd-id docs are the training set, "
    "even-id docs the held-out benchmark; flag training docs sharing "
    ">= 3 distinct 3-gram shingles with any benchmark doc. Served "
    "from the persisted pair-distribution artifact "
    "(operators/dedup.py pair_distribution_build) — its contract is "
    "EXACTLY this query's: n=3 distinct-per-doc xxhash64 shingles, "
    "whole-corpus max_df=64 stop-shingle cap, raw intersection "
    "counts down to 1 shared shingle (no jaccard floor, unlike the "
    "0.2-floor QC artifact, so the shared>=3 threshold — far below "
    "any jaccard cut — loses nothing). Decontamination reduces to a "
    "parity filter + threshold over the artifact's (id_a, id_b, "
    "inter) rows; tests/test_curation.py pins row-identity against "
    "the direct contamination_flags_split build. The from-scratch "
    "inverted-index path (the at-scale shape when no pair index "
    "exists) stays certified via contamination_flags' own tests.",
)
def ns_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.queries.northstar import _pair_distribution_table

    pairs = _pair_distribution_table(spark, sf_dir)
    a_odd = F.col("id_a") % 2 == 1
    b_odd = F.col("id_b") % 2 == 1
    # contamination evidence = pairs crossing the parity split with
    # >= 3 shared capped shingles; orient each pair (train, bench)
    cross = (
        pairs.where(a_odd != b_odd)
        .where(F.col("inter") >= 3)
        .select(
            F.when(a_odd, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id"),
            F.col("inter"),
        )
    )
    return (
        cross.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bench_hits"),
            F.max("inter").cast("bigint").alias("max_shared"),
        )
        .orderBy("doc_id")
    )


@query(
    "ns_pack_sequences",
    """
    WITH nt AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM nt
    )
    SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok,
           CAST(cb // 256 AS BIGINT) AS seq_id,
           CAST(cb % 256 AS BIGINT) AS seq_offset
    FROM c
    ORDER BY doc_id
    """,
    "Sequence packing (concat-then-chunk): deterministic assignment of "
    "docs to 256-token training sequences via a per-language running "
    "token total — rerun/partitioning-invariant; windows sort within "
    "strata only, so no global sort exists at scale.",
)
def ns_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return curation.pack_sequences(docs, budget=256).orderBy("doc_id")


@query(
    "ns_curation_pipeline",
    """
    WITH train AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM train
    ),
    base AS (
        SELECT doc_id, len(t) AS n_words, len(list_distinct(t)) AS n_distinct, t
        FROM toks
    ),
    bg AS (
        SELECT doc_id, n_words, n_distinct, t[i] || ' ' || t[i+1] AS bg
        FROM base, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
    ),
    counts AS (
        SELECT doc_id, n_words, n_distinct, bg, COUNT(*) AS c
        FROM bg GROUP BY ALL
    ),
    per_doc AS (
        SELECT doc_id, n_words, n_distinct, MAX(c) AS top_bg, SUM(c) AS n_bg
        FROM counts GROUP BY doc_id, n_words, n_distinct
    ),
    kept AS (
        SELECT doc_id FROM per_doc
        WHERE ROUND(1 - n_distinct * 1.0 / n_words, 6) <= 0.6
          AND ROUND(top_bg * 1.0 / n_bg, 6) <= 0.1
    ),
    surv AS (
        SELECT MIN(k.doc_id) AS doc_id
        FROM train tr JOIN kept k ON tr.doc_id = k.doc_id
        GROUP BY md5(trim(regexp_replace(lower(tr.text), '\\s+', ' ', 'g')))
    ),
    tsh AS (
        SELECT s.doc_id, sub.shingle
        FROM surv s JOIN (
            SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
        ) sub ON sub.doc_id = s.doc_id
        GROUP BY s.doc_id, sub.shingle
    ),
    bsh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM (
            SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                       x -> x <> '') AS t
            FROM documents WHERE doc_id % 2 = 0
        ), UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rare AS (
        SELECT shingle FROM (
            SELECT shingle FROM tsh UNION ALL SELECT shingle FROM bsh
        ) GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    tsh_k AS (SELECT t.* FROM tsh t JOIN rare USING (shingle)),
    bsh_k AS (SELECT b.* FROM bsh b JOIN rare USING (shingle)),
    contaminated AS (
        SELECT DISTINCT train_id AS doc_id FROM (
            SELECT t.doc_id AS train_id, b.doc_id AS bench_id, COUNT(*) AS shared
            FROM tsh_k t JOIN bsh_k b USING (shingle)
            GROUP BY 1, 2 HAVING COUNT(*) >= 3
        )
    ),
    clean AS (
        SELECT tr.doc_id, tr.lang, tr.text
        FROM train tr
        JOIN surv s ON tr.doc_id = s.doc_id
        WHERE tr.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    nt AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM clean
    ),
    c AS (
        SELECT doc_id, lang, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM nt
    )
    SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok,
           CAST(cb // 256 AS BIGINT) AS seq_id,
           CAST(cb % 256 AS BIGINT) AS seq_offset
    FROM c
    ORDER BY doc_id
    """,
    "The COMPOSED training-corpus pipeline, end to end in one plan: "
    "repetition quality gate -> exact dedup (min-id survivor) -> "
    "benchmark decontamination -> sequence packing, over the odd-id "
    "training split against the even-id benchmark split. Each stage is "
    "the registered operator; composing them costs no extra passes — "
    "Catalyst pipelines the narrow stages and each shuffle feeds the "
    "next stage directly. The oracle recomputes the full chain.",
)
def ns_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.dedup import dedup_exact
    from takuan_zoo.operators.skew import materialize

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 1)
    bench = docs.where(F.col("doc_id") % 2 == 0)
    kept = (
        curation.repetition_stats(train)
        .where(F.col("keep"))
        .select("doc_id")
    )
    gated = train.join(kept, "doc_id", "left_semi")
    # survivors feeds BOTH the contamination shingle branch and the
    # final anti-join; unmaterialized, the whole gate+dedup upstream
    # (two shuffles + a bigram explode) would run twice.
    survivors = materialize(dedup_exact(gated))
    flagged = curation.contamination_flags(
        survivors, bench, n=3, min_shared=3, max_df=64
    ).select("doc_id")
    clean = survivors.join(flagged, "doc_id", "left_anti")
    return curation.pack_sequences(clean, budget=256).orderBy("doc_id")


@query(
    "ns_pii_redact",
    """
    WITH synth AS (
        SELECT doc_id,
               'reach ' || source || '@example.com or +1555'
                 || lpad(CAST(doc_id * 7919 % 1000000 AS VARCHAR), 6, '0')
                 || ' from 203.0.113.' || CAST(doc_id % 251 AS VARCHAR)
                 || ' ' || text AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(regexp_extract_all(raw,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
                    .len()
              + regexp_extract_all(raw,
                    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b').len()
              + regexp_extract_all(raw, '\\+\\d{7,15}\\b').len() AS INT)
             AS n_pii,
           md5(regexp_replace(
               regexp_replace(
                   regexp_replace(raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                   '<IP>', 'g'),
               '\\+\\d{7,15}\\b', '<PHONE>', 'g')) AS redacted_md5
    FROM synth
    ORDER BY doc_id
    """,
    "PII scrubbing gate: emails / IPv4s / phone numbers replaced by "
    "typed placeholders in one codegen'd regexp_replace chain, with the "
    "hit count taken BEFORE redaction. Every row carries synthetic PII "
    "built from its own columns, so the oracle exercises all three "
    "patterns on every document (the regex subset is chosen to mean the "
    "same thing under Java regex and RE2).",
)
def ns_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.operators.skew import spread
    from takuan_zoo.operators.text import pii_counts, redact_pii

    # spread: three chained PII regex sweeps dominate; the parquet
    # row-group count would cap them at 12 of 32 cores (10x probe
    # read 9.8x before, linear after)
    docs = spread(load_table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.lit("reach "), F.col("source"), F.lit("@example.com or +1555"),
        F.lpad((F.col("doc_id") * 7919 % 1000000).cast("string"), 6, "0"),
        F.lit(" from 203.0.113."), (F.col("doc_id") % 251).cast("string"),
        F.lit(" "), F.col("text"),
    )
    return (
        docs.select(
            "doc_id",
            pii_counts(raw).alias("n_pii"),
            F.md5(redact_pii(raw)).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "ns_sample_to_mix",
    """
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS DOUBLE) AS cnt,
               CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
                         WHEN 'fr' THEN 0.2 END AS w
        FROM documents
        WHERE lang IN ('en', 'de', 'fr')
        GROUP BY lang
    ),
    c AS (SELECT MIN(cnt / w) AS c FROM counts),
    thresholds AS (
        SELECT lang,
               CAST(FLOOR(c.c * w / cnt * 10000.0) AS INT) AS thr
        FROM counts, c
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thresholds t ON d.lang = t.lang
    WHERE CAST(concat('0x', substr(md5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000 < t.thr
    ORDER BY d.doc_id
    """,
    "Target-mixture sampling: the LARGEST deterministic subcorpus with "
    "a 50/30/20 en/de/fr mix. The binding stratum stays whole; the "
    "others downsample to match. Per-stratum thresholds are derived "
    "IN-PLAN (counts -> scalar min ratio -> broadcast thresholds), so "
    "the oracle re-derives bit-identical cutoffs from the data.",
)
def ns_sample_to_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.sampling import sample_to_mix

    docs = load_table(spark, sf_dir, "documents")
    return (
        sample_to_mix(
            docs,
            key_col="doc_id",
            stratum_col="lang",
            weights={"en": 0.5, "de": 0.3, "fr": 0.2},
            seed=42,
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "ns_chunk_documents",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((i - 1) / 48 AS INT) AS chunk_id,
               CAST(i - 1 AS INT) AS tok_start,
               list_slice(t, i, i + 63) AS chunk
        FROM toks,
             UNNEST(generate_series(1, greatest(len(t), 1), 48)) AS g(i)
        WHERE i <= len(t)
    )
    SELECT doc_id, chunk_id, tok_start,
           CAST(len(chunk) AS INT) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
    "RAG-style document chunking: 64-token windows with 16-token "
    "overlap (stride 48). Pure narrow projection — tokenize, stride "
    "positions, explode, slice — zero shuffles; chunking stays "
    "embarrassingly parallel at any corpus size.",
)
def ns_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.operators.skew import spread

    # spread past the row-group parallelism cap; no presentation sort
    # — a global orderBy would shuffle every chunk body for an
    # order-insensitive driver compare (the ns_text_augment lesson)
    docs = spread(load_table(spark, sf_dir, "documents"))
    return curation.chunk_documents(docs, size=64, overlap=16)


def _hash_embed_exprs(col_expr: str, dim: int = 8) -> str:
    """DuckDB list literal of md5-derived embedding components."""
    comps = ", ".join(
        f"CAST(concat('0x', substr(md5({col_expr}), {2*i+1}, 2)) AS BIGINT) / 255.0"
        for i in range(dim)
    )
    return f"[{comps}]"


def _hash_embed_col(col, dim: int = 8):
    """Spark twin of :func:`_hash_embed_exprs`: md5 hex pairs -> [0,1]
    floats. Pure built-ins (md5/substring/conv) — a deterministic
    stand-in embedding with the exact plumbing (schema, joins, scoring)
    of a real encoder, swappable for a pandas-UDF model call."""
    h = F.md5(col)
    return F.array(
        *[
            (F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast("double") / 255.0)
            for i in range(dim)
        ]
    )


_RAG_QUERY_TEXT = "spark join performance"


def _rag_query_vec(dim: int = 8) -> list[float]:
    import hashlib

    h = hashlib.md5(_RAG_QUERY_TEXT.encode()).hexdigest()
    return [int(h[2 * i : 2 * i + 2], 16) / 255.0 for i in range(dim)]


@query(
    "ns_rag_pipeline",
    f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((i - 1) / 48 AS INT) AS chunk_id,
               array_to_string(list_slice(t, i, i + 63), ' ') AS chunk_text
        FROM toks,
             UNNEST(generate_series(1, greatest(len(t), 1), 48)) AS g(i)
        WHERE i <= len(t)
    ),
    embedded AS (
        SELECT doc_id, chunk_id,
               CAST({_hash_embed_exprs('chunk_text')} AS DOUBLE[]) AS ev
        FROM chunks
    ),
    q(qv) AS (SELECT CAST({'[' + ', '.join(repr(x) for x in _rag_query_vec()) + ']'} AS DOUBLE[])),
    scored AS (
        SELECT doc_id, chunk_id,
               ROUND(list_dot_product(ev, qv)
                     / (sqrt(list_dot_product(ev, ev))
                        * sqrt(list_dot_product(qv, qv))), 6) AS sim
        FROM embedded, q
    )
    SELECT doc_id, chunk_id, sim
    FROM scored
    ORDER BY sim DESC, doc_id, chunk_id
    LIMIT 5
    """,
    "The composed retrieval-ingest pipeline in ONE plan: chunk every "
    "document into overlapping token windows, embed each chunk, cosine-"
    "rank against a query embedding — chunk/embed/search with zero "
    "shuffles before the final top-k. The embedding is a deterministic "
    "md5-derived stand-in with the exact plumbing of a model encoder "
    "(swap _hash_embed_col for a pandas-UDF model call); determinism is "
    "what lets the oracle replay the entire chain.",
)
def ns_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.operators.skew import spread

    # spread: chunking + hash-embedding are per-row expression sweeps
    # otherwise capped by the parquet row-group count
    docs = spread(load_table(spark, sf_dir, "documents"))
    chunks = curation.chunk_documents(docs, size=64, overlap=16)
    qv = _rag_query_vec()
    ev = _hash_embed_col(F.col("chunk_text"))
    qlit = F.array(*[F.lit(x) for x in qv])
    dot = F.aggregate(
        F.zip_with(ev, qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(ev, F.lit(0.0), lambda acc, x: acc + x * x)
    ) * F.sqrt(F.lit(sum(x * x for x in qv)))
    return (
        chunks.select(
            "doc_id", "chunk_id", F.round(dot / nrm, 6).alias("sim")
        )
        .orderBy(F.desc("sim"), "doc_id", "chunk_id")
        .limit(5)
    )


@query(
    "ns_weighted_sample",
    """
    WITH c AS (
        SELECT doc_id, lang, n_chars,
               COALESCE(SUM(n_chars) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(cum_before AS BIGINT) AS cum_before,
           CAST((cum_before + n_chars) // 20000 - cum_before // 20000
                AS BIGINT) AS n_picks
    FROM c
    WHERE (cum_before + n_chars) // 20000 - cum_before // 20000 >= 1
    ORDER BY lang, doc_id
    """,
    "Size-proportional systematic sampling per language: a document is "
    "selected iff its weight interval crosses a 20000-char stride "
    "boundary on the per-stratum cumulative line — selection "
    "probability proportional to n_chars, expected sample total_chars/"
    "stride, pure integer arithmetic (no RNG, no transcendental "
    "priority keys), partition-invariant and engine-portable. n_picks "
    "is the with-replacement multiplicity.",
)
def ns_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.sampling import weighted_systematic_sample

    docs = load_table(spark, sf_dir, "documents")
    out = weighted_systematic_sample(
        docs,
        weight_col="n_chars",
        stratum_col="lang",
        order_col="doc_id",
        stride=20000,
    )
    return out.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "cum_before",
        "n_picks",
    ).orderBy("lang", "doc_id")


@query(
    "ns_boilerplate_strip",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    w AS (
        SELECT doc_id, i - 1 AS pos, t[i] AS word
        FROM toks, UNNEST(generate_series(1, len(t))) AS s(i)
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               substr(md5(list_aggregate(t[i:i+4], 'string_agg', ' ')),
                      1, 16) AS h
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 4, 0))) AS s(i)
    ),
    bp AS (SELECT h FROM grams GROUP BY h
           HAVING COUNT(DISTINCT doc_id) >= 2),
    starts AS (SELECT doc_id, pos, 1 AS s FROM grams JOIN bp USING (h)),
    marked AS (
        SELECT w.doc_id, w.pos, w.word, COALESCE(st.s, 0) AS s
        FROM w LEFT JOIN starts st
          ON w.doc_id = st.doc_id AND w.pos = st.pos
    ),
    cov AS (
        SELECT doc_id, pos, word,
               MAX(s) OVER (PARTITION BY doc_id ORDER BY pos
                            RANGE BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
        FROM marked
    ),
    kept AS (
        SELECT doc_id,
               COUNT(*) AS n_kept,
               string_agg(word, ' ' ORDER BY pos) AS cleaned
        FROM cov WHERE c = 0 GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, len(t) AS n_words FROM toks)
    SELECT t.doc_id,
           CAST(t.n_words AS BIGINT) AS n_words,
           CAST(t.n_words - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(k.cleaned, '')) AS cleaned_hash
    FROM tot t LEFT JOIN kept k USING (doc_id)
    ORDER BY t.doc_id
    """,
    "Corpus-frequent n-gram boilerplate removal (the C4/CCNet cleanup "
    "pass): 5-grams occurring in >= 2 distinct docs are boilerplate; "
    "covered words are cut and the remainder reassembled in order, "
    "proven by an md5 identity of the cleaned text. The cover test is "
    "a RANGE window max over [pos-4, pos] — O(1) state, no per-word "
    "range join — and boilerplate discovery shuffles 16-hex gram "
    "hashes, never gram strings.",
)
def ns_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.boilerplate_strip(docs, n=5, min_docs=2)


#: the quality_score formula as DuckDB SQL (identical shape to the
#: ns_quality_score oracle — text.quality_score's engine contract)
_QSCORE_SQL = """ROUND((
    least(len(list_filter(string_split_regex(text, '\\s+'),
                          w -> w <> '')) / 100.0, 1.0)
    + (1 - least(CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) > 0
                 THEN length(regexp_replace(text, '[\\sA-Za-z0-9_]+', '', 'g'))
                      * 1.0 / length(regexp_replace(text, '\\s+', '', 'g'))
                 ELSE 0 END * 2.0, 1.0))
    + least(CASE WHEN len(list_filter(string_split_regex(text, '\\s+'),
                                      w -> w <> '')) > 0
                 THEN len(regexp_extract_all(text, '\\b({sw})\\b'))
                      * 1.0 / len(list_filter(string_split_regex(text, '\\s+'),
                                              w -> w <> ''))
                 ELSE 0 END * 5.0, 1.0)
) / 3.0, 6)"""


def _dup_representative_oracle() -> str:
    from takuan_zoo.operators.text import LANG_STOPWORDS

    q = _QSCORE_SQL.format(sw="|".join(LANG_STOPWORDS["en"]))
    return f"""
    WITH scored AS (
        SELECT doc_id, lang, source, text, {q} AS s,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, source, s,
               ROW_NUMBER() OVER (PARTITION BY f
                                  ORDER BY s DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY f) AS dup_count
        FROM scored
    )
    SELECT doc_id, lang, source,
           s AS quality,
           CAST(dup_count AS BIGINT) AS dup_count
    FROM ranked WHERE rn = 1
    ORDER BY doc_id
    """


@query(
    "ns_dup_representative",
    _dup_representative_oracle(),
    "Quality-aware exact dedup: the survivor of each duplicate-content "
    "cluster is its HIGHEST-quality instance (min-id tiebreak), not "
    "the min-id row — so the kept copy of a duplicated page is the "
    "least-truncated crawl of it. Same single fingerprint-keyed "
    "shuffle as plain exact dedup; the argmax is a max_by pair "
    "aggregate (map-side combined), never a per-group sort.",
)
def ns_dup_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.dedup import dedup_representatives
    from takuan_spark.operators.skew import spread
    from takuan_zoo.operators.text import quality_score

    # spread: the quality-score regex sweep dominates and the parquet
    # row-group count (12 at probe scale) would cap parallelism at 12
    # of 32 cores (10x probe read 4.1x before; linear after).
    docs = spread(load_table(spark, sf_dir, "documents"))
    kept = dedup_representatives(docs)
    return kept.select(
        "doc_id",
        "lang",
        "source",
        quality_score(F.col("text")).alias("quality"),
        "dup_count",
    ).orderBy("doc_id")


@query(
    "ns_pii_risk",
    """
    WITH synth AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 3 = 0
                    THEN 'mail ' || source || '@example.com ' ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                    THEN 'call +1555'
                         || lpad(CAST(doc_id * 7919 % 1000000 AS VARCHAR),
                                 6, '0') || ' ' ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                    THEN 'at 203.0.113.' || CAST(doc_id % 251 AS VARCHAR)
                         || ' ' ELSE '' END
               || text AS raw
        FROM documents
    ),
    per_doc AS (
        SELECT doc_id, source,
               len(regexp_extract_all(raw,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS n_email,
               len(regexp_extract_all(raw,
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                   AS n_ip,
               len(regexp_extract_all(raw, '\\+\\d{7,15}\\b')) AS n_phone
        FROM synth
    ),
    classed AS (
        SELECT source, n_email, n_ip, n_phone,
               (CASE WHEN n_email > 0 THEN 1 ELSE 0 END
                + CASE WHEN n_ip > 0 THEN 1 ELSE 0 END
                + CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS n_classes
        FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS n_email,
           CAST(SUM(n_ip) AS BIGINT) AS n_ip,
           CAST(SUM(n_phone) AS BIGINT) AS n_phone,
           CAST(SUM(CASE WHEN n_classes >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high_risk,
           CAST(SUM(CASE WHEN n_classes = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_risk,
           ROUND(SUM(CASE WHEN n_classes > 0 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS pii_doc_rate
    FROM classed
    GROUP BY source
    ORDER BY source
    """,
    "PII risk triage per source: per-class hit counts (email / IPv4 / "
    "phone, the operators/text.py PII_PATTERNS classes) and a "
    "risk-tier rollup — high = 2+ distinct PII classes in one doc, "
    "low = 1 — the release-review table that decides which sources "
    "need redaction before training. Synthetic PII is planted "
    "conditionally (doc_id % 3/5/7) so every tier is exercised. One "
    "regex projection + one source-keyed aggregate; the patterns mean "
    "the same thing under Java regex and RE2.",
)
def ns_pii_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import PII_PATTERNS

    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("mail "), F.col("source"), F.lit("@example.com ")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("call +1555"),
                F.lpad((F.col("doc_id") * 7919 % 1000000).cast("string"), 6, "0"),
                F.lit(" "),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("at 203.0.113."),
                (F.col("doc_id") % 251).cast("string"),
                F.lit(" "),
            ),
        ).otherwise(F.lit("")),
        F.col("text"),
    )
    pats = dict(zip(["n_email", "n_ip", "n_phone"], [p for p, _ in PII_PATTERNS]))
    per_doc = docs.select(
        "source",
        *[
            F.regexp_count(raw, F.lit(p)).cast("int").alias(name)
            for name, p in pats.items()
        ],
    )
    n_classes = (
        (F.col("n_email") > 0).cast("int")
        + (F.col("n_ip") > 0).cast("int")
        + (F.col("n_phone") > 0).cast("int")
    )
    return (
        per_doc.withColumn("n_classes", n_classes)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("n_email"),
            F.sum("n_ip").cast("bigint").alias("n_ip"),
            F.sum("n_phone").cast("bigint").alias("n_phone"),
            F.sum((F.col("n_classes") >= 2).cast("int"))
            .cast("bigint")
            .alias("n_high_risk"),
            F.sum((F.col("n_classes") == 1).cast("int"))
            .cast("bigint")
            .alias("n_low_risk"),
            F.round(
                F.sum((F.col("n_classes") > 0).cast("int")) / F.count(F.lit(1)),
                6,
            ).alias("pii_doc_rate"),
        )
        .orderBy("source")
    )


@query(
    "ns_filter_funnel",
    """
    WITH d AS (
        SELECT CASE
                 WHEN NOT (n_chars BETWEEN 100 AND 500) THEN 0
                 WHEN NOT (lang IN ('en', 'de', 'es', 'fr')) THEN 1
                 WHEN NOT (len(list_filter(string_split_regex(text, '\\s+'),
                                           x -> x <> '')) >= 30) THEN 2
                 ELSE 3
               END AS depth,
               md5(text) AS h
        FROM documents
    ),
    funnel AS (
        SELECT 0 AS stage, 'input' AS stage_name,
               CAST(COUNT(*) AS BIGINT) AS survivors FROM d
        UNION ALL
        SELECT 1, 'len_100_500',
               CAST(SUM(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d
        UNION ALL
        SELECT 2, 'lang_allowed',
               CAST(SUM(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d
        UNION ALL
        SELECT 3, 'min_30_words',
               CAST(SUM(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        FROM d
        UNION ALL
        SELECT 4, 'exact_dedup',
               CAST(COUNT(DISTINCT CASE WHEN depth >= 3 THEN h END)
                    AS BIGINT)
        FROM d
    )
    SELECT CAST(stage AS INT) AS stage, stage_name, survivors,
           CAST(COALESCE(LAG(survivors) OVER (ORDER BY stage) - survivors,
                         0) AS BIGINT) AS dropped
    FROM funnel ORDER BY stage
    """,
    "Filter-cascade attrition report — the per-stage survivors/drops "
    "table every curation pipeline publishes (raw -> length gate -> "
    "language gate -> min-words gate -> exact dedup). One aggregation "
    "pass: each doc's survival DEPTH is a codegen CASE chain and "
    "every funnel level is a conditional aggregate of it; no "
    "stage-per-job loop, no driver collect.",
)
def ns_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    return curation.filter_funnel(
        docs,
        [
            ("len_100_500", F.col("n_chars").between(100, 500)),
            ("lang_allowed", F.col("lang").isin("en", "de", "es", "fr")),
            ("min_30_words", F.size(words(F.col("text"))) >= 30),
        ],
        dedup_text_col="text",
    )


@query(
    "ns_source_dedup_matrix",
    """
    WITH tpl AS (
        SELECT DISTINCT
               array_to_string(
                   list_transform(
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '')[1:6],
                       x -> CASE
                              WHEN regexp_matches(x, '^[0-9]+$')
                                THEN '<num>'
                              WHEN regexp_matches(x, '[0-9]')
                                THEN '<mix>'
                              ELSE lower(x)
                            END),
                   ' ') AS k,
               source AS src
        FROM documents
    ),
    multi AS (
        SELECT k FROM tpl GROUP BY k
        HAVING COUNT(*) BETWEEN 2 AND 64
    ),
    keyed AS (SELECT tpl.* FROM tpl JOIN multi USING (k))
    SELECT a.src AS src_a, b.src AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_keys,
           MIN(a.k) AS example_key
    FROM keyed a JOIN keyed b ON a.k = b.k AND a.src < b.src
    GROUP BY 1, 2
    ORDER BY n_shared_keys DESC, src_a, src_b
    """,
    "Cross-source content-sharing provenance matrix: distinct shared "
    "keys per source pair — here keyed on the 6-token-shape document "
    "OPENING (the template-mining key), so the matrix reads 'which "
    "sources share boilerplate openings'; swap the key expression for "
    "a full-text or winnowing fingerprint and the same plan yields "
    "exact- or near-dup provenance. Inverted index on the key with a "
    "64-source expansion cap (the max_df contract: universal content "
    "carries no pairwise provenance signal). NOT served from the "
    "pair-distribution artifact: that artifact is keyed on 3-gram "
    "shingles per doc_id, this matrix on 6-token-shape openings per "
    "SOURCE — different key, different unit, so the contracts do not "
    "line up and the query keeps its own single-pass index.",
)
def ns_source_dedup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.dedup import source_share_matrix
    from takuan_zoo.operators.text import token_shape, words

    docs = load_table(spark, sf_dir, "documents")
    key = F.concat_ws(
        " ",
        F.transform(F.slice(words(F.col("text")), 1, 6), token_shape),
    )
    return source_share_matrix(docs, key)


_CODE_SNIPPET = (
    " def f(x): return arr[0] + y; if (n == 2) { s = n * 3; } #inline"
)


@query(
    "ns_code_detect",
    f"""
    WITH d AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 4 = 0
                            THEN '{_CODE_SNIPPET}' ELSE '' END AS t
        FROM documents
    ),
    f AS (
        SELECT doc_id,
               ROUND(CASE WHEN len(t) > 0 THEN
                   (len(t) - len(regexp_replace(t,
                        '[{{}}()\\[\\];=<>#_]', '', 'g'))) * 1.0 / len(t)
                   ELSE 0 END, 6) AS code_frac,
               ROUND(CASE WHEN len(t) > 0 THEN
                   (len(t) - len(regexp_replace(t, '[0-9]', '', 'g')))
                       * 1.0 / len(t)
                   ELSE 0 END, 6) AS digit_frac
        FROM d
    )
    SELECT doc_id, code_frac, digit_frac,
           code_frac >= 0.02 AS is_code
    FROM f
    ORDER BY doc_id
    """,
    "Code-vs-prose routing signal: per-document code-punctuation and "
    "digit density as pure codegen projections (no shuffle, no UDF) "
    "with the is_code gate — the cheap first stage that decides which "
    "documents a mixing pipeline sends to a real code classifier. "
    "Every 4th doc gets a deterministic code snippet appended so both "
    "classes exist in the corpus; the oracle re-derives it.",
)
def ns_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import code_detect

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(_CODE_SNIPPET)
            ).otherwise(F.lit("")),
        ),
    )
    return code_detect(docs, threshold=0.02).orderBy("doc_id")


_GOPHER_RULE_COLS = [
    ("r1_word_count", "gr_word_count"),
    ("r2_mean_word_len", "gr_mean_word_len"),
    ("r3_symbol_ratio", "gr_symbol_ratio"),
    ("r4_alpha_words", "gr_alpha_words"),
    ("r5_stopwords", "gr_stopwords"),
    ("r6_top_word_mass", "gr_top_word_mass"),
]


@query(
    "ns_gopher_rules",
    """
    WITH base AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               len(w) AS n_words,
               length(regexp_replace(text, '\\s+', '', 'g')) AS chars_ns,
               (length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '...', ''))) // 3
                 AS n_sym,
               len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                 AS n_alpha,
               (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END
                + CASE WHEN list_contains(w, 'a') THEN 1 ELSE 0 END)
                 AS sw_hits
        FROM base
    ),
    tops AS (
        SELECT doc_id, MAX(cnt * length(word)) AS top_mass
        FROM (
            SELECT doc_id, word, COUNT(*) AS cnt
            FROM (SELECT doc_id, unnest(w) AS word FROM base)
            GROUP BY doc_id, word
        )
        GROUP BY doc_id
    ),
    flags AS (
        SELECT
            COALESCE(n_words BETWEEN 50 AND 100000, FALSE) AS r1,
            COALESCE(n_words > 0
                     AND chars_ns BETWEEN 3 * n_words AND 10 * n_words,
                     FALSE) AS r2,
            COALESCE(n_words > 0 AND 10 * n_sym <= n_words, FALSE) AS r3,
            COALESCE(n_words > 0 AND 5 * n_alpha >= 4 * n_words, FALSE)
                AS r4,
            COALESCE(sw_hits >= 2, FALSE) AS r5,
            COALESCE(chars_ns > 0 AND 5 * COALESCE(top_mass, 0) <= chars_ns,
                     FALSE) AS r6
        FROM feat LEFT JOIN tops USING (doc_id)
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               CAST(SUM(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT) AS f3,
               CAST(SUM(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT) AS f4,
               CAST(SUM(CASE WHEN NOT r5 THEN 1 ELSE 0 END) AS BIGINT) AS f5,
               CAST(SUM(CASE WHEN NOT r6 THEN 1 ELSE 0 END) AS BIGINT) AS f6,
               CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 AND r6
                        THEN 1 ELSE 0 END) AS BIGINT) AS ap
        FROM flags
    )
    SELECT 'r1_word_count' AS rule, f1 AS n_fail, n - f1 AS n_pass FROM agg
    UNION ALL
    SELECT 'r2_mean_word_len', f2, n - f2 FROM agg
    UNION ALL
    SELECT 'r3_symbol_ratio', f3, n - f3 FROM agg
    UNION ALL
    SELECT 'r4_alpha_words', f4, n - f4 FROM agg
    UNION ALL
    SELECT 'r5_stopwords', f5, n - f5 FROM agg
    UNION ALL
    SELECT 'r6_top_word_mass', f6, n - f6 FROM agg
    UNION ALL
    SELECT 'zz_all_pass', n - ap, ap FROM agg
    ORDER BY rule
    """,
    "The Gopher quality-rule battery (Rae et al. 2021 A1.1) as a "
    "per-rule pass/fail report plus the all-rules survivor row — the "
    "independent-rule view that complements ns_filter_funnel's "
    "cumulative attrition. The operator defaults to the published "
    "8-word stopword list; this instantiation uses the corpus' article "
    "set {the, a} so the stopword rule discriminates on the synthetic "
    "vocabulary. All thresholds are integer cross-multiplications — "
    "exact, hash-stable flags in both engines.",
)
def ns_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flags = curation.gopher_rules(docs, stopwords=["the", "a"])
    all_pass = None
    for _, c in _GOPHER_RULE_COLS:
        cc = F.coalesce(F.col(c), F.lit(False))
        all_pass = cc if all_pass is None else all_pass & cc
    aggs = [F.count("*").alias("n")]
    for nm, c in _GOPHER_RULE_COLS:
        aggs.append(
            F.sum(
                (~F.coalesce(F.col(c), F.lit(False))).cast("bigint")
            ).alias(nm)
        )
    aggs.append(F.sum(all_pass.cast("bigint")).alias("zz_pass"))
    one = flags.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(nm).alias("rule"), F.col(nm).alias("n_fail")
            )
            for nm, _ in _GOPHER_RULE_COLS
        ],
        F.struct(
            F.lit("zz_all_pass").alias("rule"),
            (F.col("n") - F.col("zz_pass")).alias("n_fail"),
        ),
    )
    return (
        one.select(F.col("n"), F.explode(rows).alias("_r"))
        .select(
            F.col("_r.rule").alias("rule"),
            F.col("_r.n_fail").cast("bigint").alias("n_fail"),
            (F.col("n") - F.col("_r.n_fail")).cast("bigint").alias("n_pass"),
        )
        .orderBy("rule")
    )
