"""Record-linkage queries (operators/linkage.py): blocked within-band
linkage and LSH-candidate scored linkage over the documents corpus."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import dedup, linkage
from takuan_zoo.queries import query
from takuan_zoo.queries.northstar import _minhash_pairs_cte

_TS = r"""list_distinct(list_transform(
    list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
    t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)))"""


@query(
    "ns_blocked_linkage",
    f"""
    WITH keyed AS (
        SELECT doc_id AS id, lang,
               CAST(floor(n_chars / 200) AS INT) AS lb,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '')[1] AS tok0,
               {_TS} AS ts
        FROM documents
    ),
    small AS (
        SELECT lang, lb, tok0 FROM keyed
        GROUP BY lang, lb, tok0 HAVING COUNT(*) <= 64
    ),
    keyed_k AS (
        SELECT k.* FROM keyed k JOIN small USING (lang, lb, tok0)
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, a.lang, a.lb AS len_band,
               ROUND(len(list_intersect(a.ts, b.ts))
                     / CAST(len(list_distinct(a.ts || b.ts)) AS DOUBLE),
                     6) AS jaccard
        FROM keyed_k a
        JOIN keyed_k b ON a.lang = b.lang AND a.lb = b.lb
                      AND a.tok0 = b.tok0 AND a.id < b.id
    )
    SELECT * FROM pairs WHERE jaccard >= 0.5
    ORDER BY id_a, id_b
    """,
    "BLOCKING half of record linkage: candidate pairs only form inside "
    "the (language, 200-char length band, first token) block key — "
    "multi-attribute blocking: the quadratic comparison is bounded by "
    "block size, and the key is selective enough that block sizes stay "
    "bounded as the corpus grows ((lang, band) alone has O(15) values, "
    "so blocks grew linearly with the corpus and the bench paid 32 s "
    "at sf0.1; the first-token component cut pair mass 28x). Blocks "
    "over max_block=64 records are dropped before pairing — the hard "
    "bound against Zipfian key outliers, mirrored in the oracle — so "
    "pair count is <= n*64 regardless of skew. One shuffle on the "
    "block key; agreement is distinct-token-set Jaccard.",
)
def ns_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return linkage.blocked_pairs(
        docs, len_band=200, min_jaccard=0.5, prefix_token=True
    ).orderBy("id_a", "id_b")


@query(
    "ns_record_linkage",
    f"""
    WITH {_minhash_pairs_cte(threshold=0.5)},
    meta AS (
        SELECT doc_id AS id, lang, n_chars AS len, source AS src,
               {_TS} AS ts
        FROM documents
    ),
    feat AS (
        SELECT p.id_a, p.id_b, a.src AS src_a, b.src AS src_b,
               ROUND(len(list_intersect(a.ts, b.ts))
                     / CAST(len(list_distinct(a.ts || b.ts)) AS DOUBLE),
                     6) AS jaccard,
               ROUND(least(a.len, b.len)
                     / CAST(greatest(a.len, b.len) AS DOUBLE), 6)
                   AS len_ratio,
               CAST(a.lang = b.lang AS INT) AS lang_agree
        FROM mh_pairs p
        JOIN meta a ON a.id = p.id_a
        JOIN meta b ON b.id = p.id_b
        WHERE a.src <> b.src
    ),
    scored AS (
        SELECT *,
               (500000 * CAST(round(jaccard * 1000000) AS BIGINT)
                + 300000 * CAST(round(len_ratio * 1000000) AS BIGINT)
                + 200000 * CAST(lang_agree AS BIGINT) * 1000000
                + 500000) // 1000000 AS score_micro
        FROM feat
    )
    SELECT id_a, id_b, src_a, src_b, jaccard, len_ratio, lang_agree,
           score_micro / 1000000.0 AS score
    FROM scored
    WHERE score_micro >= 600000
    ORDER BY id_a, id_b
    """,
    "SCORING half of record linkage (Fellegi-Sunter linear surrogate): "
    "candidates come from MinHash-LSH banding (no blocking key "
    "needed — the 100 TB discovery path), features are token Jaccard + "
    "length ratio + language agreement, and only cross-SOURCE matches "
    "above the score threshold survive (same-source pairs are dedup's "
    "business). Feature joins touch candidates only, never the corpus "
    "cross product.",
)
def ns_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.5
    )
    return linkage.score_links(cand, docs, threshold=0.6).orderBy(
        "id_a", "id_b"
    )
