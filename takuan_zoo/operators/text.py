"""Text-analysis operators for training-data pipelines (SURVEY.md §2.2).

All pure ``pyspark.sql.functions`` expressions — no Python UDFs — so the
whole module stays inside whole-stage codegen and scales linearly with
input splits: per-document scores are embarrassingly parallel map work,
and the only shuffles are the final small aggregations.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish token pattern: word pieces or single non-space punctuation.
TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^\sA-Za-z0-9_]"

#: Tiny per-language stopword signatures for the n-gram/stopword
#: language-ID heuristic. Word-boundary regexes keep it expressible in
#: both Spark and ANSI SQL.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "und", "das", "nicht", "ist"],
    "es": ["el", "la", "que", "los", "una", "es"],
    "fr": ["le", "la", "les", "des", "est", "une"],
}


def words(col: Column | str) -> Column:
    r"""Whitespace tokenization; empty strings removed (split on an
    all-space string yields ['']).

    Dialect note: Java's ``\s`` (used here) includes vertical tab
    \x0b; DuckDB/RE2's does not — oracle SQL mirrors tokenize with
    RE2 ``\s``, a knowing divergence that only matters for documents
    containing \x0b (none in the test corpora)."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


def word_count(col: Column | str) -> Column:
    return F.size(words(col))


def token_count(col: Column | str) -> Column:
    """BPE-ish token count: words + punctuation marks."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are punctuation."""
    nonspace = F.length(F.regexp_replace(col, r"\s+", ""))
    punct = F.length(F.regexp_replace(col, r"[\sA-Za-z0-9_]+", ""))
    return F.when(nonspace > 0, punct / nonspace).otherwise(F.lit(0.0))


def stopword_hits(col: Column | str, stopwords: list[str]) -> Column:
    pat = r"\b(" + "|".join(stopwords) + r")\b"
    return F.size(F.regexp_extract_all(col, F.lit(pat), 0))


def token_entropy(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token-distribution metrics — the lexical-diversity
    quality signal a repetition/perplexity-proxy gate keys on:
    ``n_tokens``, ``n_types`` (distinct tokens), ``ttr`` (type-token
    ratio) and Shannon ``entropy`` in nats, both rounded to 4dp.

    Scale shape: tokens are hashed to 60-bit md5 ints BEFORE the
    (doc, token) count shuffle, so exchange keys are 8 bytes instead of
    token strings; the (doc, hash) aggregation map-side combines, and
    the per-doc reduce is over a doc's vocabulary (bounded), never the
    token stream. Collisions at 2^60 are negligible — and identical in
    the oracle, which applies the same hash. Entropy uses the
    ``ln(n) - sum(c*ln c)/n`` form: one pass over the counts, no
    per-row division by n before the aggregate. Documents with zero
    tokens produce no output row (no token distribution to score) —
    same on both engines."""
    toks = docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("tok")
    )
    from takuan_zoo.operators.hashing import md5_int

    counts = (
        toks.select(id_col, md5_int(F.col("tok"), hex_chars=15).alias("h"))
        .groupBy(id_col, "h")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.sum(F.col("c") * F.log("c")).alias("_sc"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("ttr"),
            F.round(
                F.log(F.col("n_tokens").cast("double"))
                - F.col("_sc") / F.col("n_tokens"),
                4,
            ).alias("entropy"),
        )
    )


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or LANG_STOPWORDS["en"]
    wc = word_count(col)
    return F.when(wc > 0, stopword_hits(col, sw) / wc).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: rewards mid-length docs,
    low punctuation density, and a natural stopword rate. The exact
    formula is engine-defined (the point is the *shape*: cheap,
    codegen-able per-row scoring for corpus filtering).
    """
    wc = word_count(col)
    length_score = F.least(wc / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(col) * 2.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    score = F.round((length_score + (1 - punct_penalty) + stop_score) / 3.0, 6)
    # NULL text -> NULL score (some sub-terms default through when()
    # branches and would otherwise score a missing document ~0.67).
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull(), F.lit(None).cast("double")).otherwise(score)


def lang_id(col: Column | str) -> Column:
    """Stopword-signature language ID: argmax of per-language hit
    counts, 'und' (undetermined) when nothing hits. Deterministic
    tiebreak by language code order en < de < es < fr via strictly-
    greater comparison in a fixed scan order.
    """
    hits = {lang: stopword_hits(col, sws) for lang, sws in LANG_STOPWORDS.items()}
    langs = sorted(hits)  # de, en, es, fr — fixed evaluation order
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang in langs:
        is_better = hits[lang] > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, hits[lang]).otherwise(best_hits)
    return best


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, squeezed whitespace,
    trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint: md5 of the normalized
    text. Stable across engines (md5 is md5 everywhere), which is why it
    is the oracle-checkable fingerprint; xxhash64 is the cheaper
    Spark-internal alternative used by the dedup operators."""
    return F.md5(normalize_text(col))


#: PII patterns, applied in this order (email first so its local part
#: cannot later match the phone digit-run). Regex subset chosen to mean
#: the same thing under Java regex (Spark) and RE2 (DuckDB): character
#: classes, bounded repeats, \b word boundaries — no lookaround, no
#: backreferences.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+\d{7,15}\b", "<PHONE>"),
]


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization (composed canonical form) — the
    curation step that makes byte-level dedup see 'café' (e + combining
    acute) and 'café' (precomposed) as the same document. Spark has no
    built-in normalizer, so this is an Arrow-batched pandas UDF over
    Python's unicodedata (the same tables DuckDB's nfc_normalize uses,
    which is what keeps the oracle bit-identical). ASCII-only corpora
    pass through unchanged at Arrow batch speed."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)


def pii_counts(col: Column | str) -> Column:
    """Total PII hits (email + IP + phone) in the raw text — counted
    BEFORE redaction so the numbers describe the original document."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.lit(0)
    for pat, _ in PII_PATTERNS:
        out = out + F.regexp_count(c, F.lit(pat))
    return out.cast("int")


def redact_pii(col: Column | str) -> Column:
    """Replace emails, IPv4 addresses, and international phone numbers
    with typed placeholders — the scrubbing gate a training-data
    pipeline runs before anything else persists the text. Pure
    regexp_replace chain: JVM-side, codegen'd, order-deterministic."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def text_stats(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Per-document stats projection used by corpus-quality queries."""
    c = F.col(text_col)
    return docs.select(
        "*",
        word_count(c).alias("n_words"),
        F.length(c).alias("n_chars_computed"),
        token_count(c).alias("n_tokens"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("fp"),
    )


def winnow_fingerprints(
    docs,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
):
    """Winnowing document fingerprints (the MOSS scheme) over the token
    stream: hash every n-gram at its position, slide a ``window`` over
    consecutive positions, keep each window's minimum hash. Near-
    identical documents share most selected fingerprints even after
    local edits — the rolling-hash fingerprint family, vs the whole-
    document md5 of :func:`fingerprint`.

    The n-gram hash is md5-derived (first 8 hex chars as int), so an
    external SQL engine reproduces it exactly. Output: one row per
    (doc, distinct selected fingerprint).
    """
    from pyspark.sql import Window as W

    w = words(F.col(text_col))
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(0), F.size(w) - n)
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda i: F.concat_ws(" ", F.slice(w, i + 1, n))  # noqa: E731
    gh = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(gram(i)), 1, 8), 16, 10
    ).cast("bigint")
    hashes = F.transform(idx, lambda i: gh(i))
    pos_hash = docs.select(
        F.col(id_col), F.posexplode(hashes).alias("pos", "h")
    )
    frame = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    selected = pos_hash.select(
        F.col(id_col), F.min("h").over(frame).alias("fp")
    )
    return selected.distinct()


def token_shape(tok: Column) -> Column:
    """Canonical token shape for template mining: pure digit runs
    become ``<num>``, digit-bearing tokens ``<mix>``, everything else
    its lowercase form — the normalization that makes "error 404" and
    "error 500" the same template."""
    return (
        F.when(tok.rlike(r"^[0-9]+$"), F.lit("<num>"))
        .when(tok.rlike(r"[0-9]"), F.lit("<mix>"))
        .otherwise(F.lower(tok))
    )


def prefix_templates(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_tokens: int = 6,
    top_k: int = 25,
) -> DataFrame:
    """Common document openings: the first ``n_tokens`` token SHAPES
    of each document, counted corpus-wide — the cheap template miner
    that surfaces boilerplate intros, scraped navigation headers, and
    generated-text stems before any pairwise dedup runs (a shared
    opening is the earliest symptom of template mass).

    One scan + one groupBy on a short derived string; numbers and
    mixed tokens normalize to ``<num>``/``<mix>`` so volatile IDs
    don't split a template. Output: top ``top_k`` (template,
    n_docs, example_doc_id = min id), count desc, template asc."""
    tpl = F.concat_ws(
        " ",
        F.transform(
            F.slice(words(F.col(text_col)), 1, n_tokens), token_shape
        ),
    )
    return (
        docs.select(tpl.alias("template"), F.col(id_col))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("example_doc_id"),
        )
        .orderBy(F.desc("n_docs"), "template")
        .limit(top_k)
    )


def token_dropout(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_every: int = 10,
    salt: str = "aug",
) -> DataFrame:
    """Deterministic token-dropout augmentation: position ``p`` of doc
    ``d`` is dropped iff md5("{d}:{salt}:{p}") % drop_every == 0 (~10%
    at the default). The mask is a pure function of (id, salt,
    position) — NOT an RNG — so every re-run, every worker, and every
    engine produces byte-identical augmented shards; reproducibility
    is the whole point of seeding augmentation this way in a
    distributed pipeline (a per-worker RNG makes shards
    partition-order-dependent). Different ``salt`` values yield
    independent augmentation epochs.

    Pure array expressions per row (no shuffle, no UDF): output
    (id, n_tokens, n_kept, aug_text)."""
    w = words(F.col(text_col))

    def _keep(tok, i):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(f":{salt}:"),
                        i.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return h % drop_every != 0

    kept = F.filter(w, _keep)
    return docs.select(
        F.col(id_col),
        F.size(w).cast("int").alias("n_tokens"),
        F.size(kept).cast("int").alias("n_kept"),
        F.concat_ws(" ", kept).alias("aug_text"),
    )


#: characters that are frequent in source code and rare in prose —
#: shared literal between the Spark expression and oracle SQL
CODE_CHARS_RE = r"[{}()\[\];=<>#_]"


def code_likeness(col: Column | str) -> Column:
    """Heuristic code-vs-prose signal in [0, 1]: the fraction of
    characters that are code punctuation (braces, brackets,
    semicolons, operators, ``_``/``#``). Pure codegen expression — the
    cheap first-stage router that decides which documents get a real
    (expensive) code classifier in a mixing pipeline."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    stripped = F.length(F.regexp_replace(c, CODE_CHARS_RE, ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def code_detect(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.02,
) -> DataFrame:
    """Per-document code detection: (id, code_frac, digit_frac,
    is_code). ``code_frac`` is :func:`code_likeness`; ``digit_frac``
    complements it (identifiers/literals digit density). One
    projection, no shuffle — classification happens where the data
    already is."""
    c = F.col(text_col)
    n = F.length(c)
    digit_frac = F.when(
        n > 0, (n - F.length(F.regexp_replace(c, r"[0-9]", ""))) / n
    ).otherwise(F.lit(0.0))
    return docs.select(
        F.col(id_col),
        F.round(code_likeness(c), 6).alias("code_frac"),
        F.round(digit_frac, 6).alias("digit_frac"),
        (F.round(code_likeness(c), 6) >= threshold).alias("is_code"),
    )
