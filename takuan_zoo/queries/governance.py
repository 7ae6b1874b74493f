"""Data-governance queries for training-corpus pipelines: leakage-safe
splits, k-anonymity audits, tokenizer fertility accounting.

These are the checks a dataset ships WITH at scale: the split that
provably cannot leak eval data into train, the re-identification audit
over quasi-identifiers, and per-language tokenizer-cost accounting
(fertility decides how many real tokens a fixed training budget buys
per language). All pure built-in expressions — hash aggregates and
portable md5-derived bucketing, no UDFs, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import text
from takuan_zoo.operators.hashing import md5_int, sql_md5_int
from takuan_zoo.queries import query

#: Normalized content fingerprint — identical spelling to the dedup
#: family (whitespace-collapsed lowercase md5).
_FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@query(
    "ns_leakage_safe_split",
    f"""
    WITH base AS (
        SELECT doc_id,
               {_FP_SQL} AS fp,
               {sql_md5_int(_FP_SQL)} % 10 AS gb,
               doc_id % 10 AS nb
        FROM documents
    ),
    labeled AS (
        SELECT doc_id, fp,
               CASE WHEN gb < 8 THEN 'train'
                    WHEN gb = 8 THEN 'val' ELSE 'test' END AS split,
               CASE WHEN nb < 8 THEN 'train'
                    WHEN nb = 8 THEN 'val' ELSE 'test' END AS naive_split
        FROM base
    ),
    leak AS (
        SELECT
            CAST(SUM(CASE WHEN gs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS leaked_grouped,
            CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS leaked_naive
        FROM (
            SELECT fp, COUNT(DISTINCT split) AS gs,
                   COUNT(DISTINCT naive_split) AS ns
            FROM labeled GROUP BY fp
        )
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_clusters,
           leaked_grouped, leaked_naive
    FROM labeled, leak
    GROUP BY split, leaked_grouped, leaked_naive
    ORDER BY split
    """,
    "Leakage-safe train/val/test split: the split key is a hash of the "
    "CONTENT fingerprint, so exact duplicates land in the same split "
    "by construction — the audit columns prove it (leaked_grouped = 0) "
    "and quantify the counterfactual naive doc_id split (each "
    "leaked_naive count is a duplicate group straddling train and "
    "eval, i.e. memorized eval rows; the sf0.1 corpus has 8 duplicate "
    "groups exposed to that risk, sf0.01 has none). Fingerprints "
    "shuffle as 32-byte keys; the audit is one aggregate on the frame.",
)
def ns_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = text.fingerprint(F.col("text"))
    gb = md5_int(fp) % 10
    nb = F.col("doc_id") % 10

    def lab(bucket) -> F.Column:
        return (
            F.when(bucket < 8, "train")
            .when(bucket == 8, "val")
            .otherwise("test")
        )

    labeled = docs.select(
        "doc_id",
        fp.alias("fp"),
        lab(gb).alias("split"),
        lab(nb).alias("naive_split"),
    )
    leak = (
        labeled.groupBy("fp")
        .agg(
            F.countDistinct("split").alias("gs"),
            F.countDistinct("naive_split").alias("ns"),
        )
        .agg(
            F.sum((F.col("gs") > 1).cast("bigint"))
            .cast("bigint")
            .alias("leaked_grouped"),
            F.sum((F.col("ns") > 1).cast("bigint"))
            .cast("bigint")
            .alias("leaked_naive"),
        )
    )
    per_split = labeled.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_clusters"),
    )
    return (
        per_split.crossJoin(F.broadcast(leak))
        .select("split", "n_docs", "n_clusters", "leaked_grouped", "leaked_naive")
        .orderBy("split")
    )


@query(
    "ns_k_anonymity",
    """
    SELECT event_type,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hr,
           CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT)
               AS vbucket,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY 1, 2, 3
    HAVING COUNT(DISTINCT user_id) < 5
    ORDER BY event_type, hr, vbucket
    """,
    "k-anonymity audit over quasi-identifiers (event_type, hour, "
    "value bucket): every combination linkable to fewer than k=5 "
    "distinct users is a re-identification risk the release gate must "
    "suppress or generalize. One hash aggregate with a distinct-count "
    "— partials combine map-side, the shuffle carries (group, user) "
    "keys, and the HAVING prunes before any result materializes.",
)
def ns_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.hour("ts").cast("int").alias("hr"),
            F.least(
                F.greatest(F.floor(F.col("value") / 50.0), F.lit(0)), F.lit(9)
            )
            .cast("bigint")
            .alias("vbucket"),
        )
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("k"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .where(F.col("k") < 5)
        .orderBy("event_type", "hr", "vbucket")
    )


@query(
    "ns_tokenizer_fertility",
    r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CAST(SUM(len(regexp_extract_all(trim(text), '\S+'))) AS BIGINT)
               AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text,
                '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]'))) AS BIGINT)
               AS subword_tokens,
           ROUND(SUM(len(regexp_extract_all(text,
                '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]'))) * 1.0
                / SUM(len(regexp_extract_all(trim(text), '\S+'))), 6)
               AS fertility,
           ROUND(SUM(length(text)) * 1.0
                / SUM(len(regexp_extract_all(text,
                     '[A-Za-z0-9_]+|[^\sA-Za-z0-9_]'))), 6)
               AS chars_per_token
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    "Tokenizer fertility per language: subword tokens per whitespace "
    "word and chars per subword token — the numbers that decide how "
    "much effective text a fixed token budget buys per language and "
    "which languages a tokenizer penalizes. Pure regexp counts in "
    "whole-stage codegen; one aggregate keyed by lang.",
)
def ns_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), 0))
    sub = text.token_count(F.col("text"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("n_chars"),
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(sub).cast("bigint").alias("subword_tokens"),
            F.round(F.sum(sub) / F.sum(ws), 6).alias("fertility"),
            F.round(F.sum(F.length("text")) / F.sum(sub), 6).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q_dq_audit",
    """
    SELECT 'lineitem_null_quantity' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL)
                AS BIGINT) AS n_violations,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'lineitem_nonpositive_price',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'orders_duplicate_pk',
           CAST((SELECT COUNT(*) FROM (
                     SELECT o_orderkey FROM orders
                     GROUP BY o_orderkey HAVING COUNT(*) > 1))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    ORDER BY check_name
    """,
    "Data-quality expectation audit (the release gate a 100 TB table "
    "ships with): null and range expectations as plain aggregates, "
    "referential integrity as anti-join counts, primary-key "
    "uniqueness as a having-count aggregate — each check one bounded "
    "shuffle, results a fixed handful of rows regardless of scale.",
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def row(name: str, viol, checked) -> DataFrame:
        return viol.crossJoin(F.broadcast(checked)).select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("bigint").alias("n_violations"),
            F.col("c").cast("bigint").alias("n_checked"),
        )

    li_total = li.agg(F.count("*").alias("c"))
    o_total = orders.agg(F.count("*").alias("c"))
    checks = [
        row(
            "lineitem_null_quantity",
            li.agg(
                F.sum(F.col("l_quantity").isNull().cast("bigint")).alias("v")
            ),
            li_total,
        ),
        row(
            "lineitem_nonpositive_price",
            li.agg(
                F.sum((F.col("l_extendedprice") <= 0).cast("bigint")).alias("v")
            ),
            li_total,
        ),
        row(
            "lineitem_orphan_orderkey",
            li.join(
                orders,
                li.l_orderkey == orders.o_orderkey,
                "left_anti",
            ).agg(F.count("*").alias("v")),
            li_total,
        ),
        row(
            "orders_duplicate_pk",
            orders.groupBy("o_orderkey")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > 1)
            .agg(F.count("*").alias("v")),
            o_total,
        ),
        row(
            "orders_orphan_custkey",
            orders.join(
                cust, orders.o_custkey == cust.c_custkey, "left_anti"
            ).agg(F.count("*").alias("v")),
            o_total,
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.orderBy("check_name")


@query(
    "ns_score_calibration",
    """
    WITH seg0 AS (
        SELECT event_type,
               quantile_cont(value,
                   list_transform(generate_series(0, 20), g -> g / 20.0))
                   AS qs
        FROM events GROUP BY event_type
    ),
    pooled0 AS (
        SELECT quantile_cont(value,
                   list_transform(generate_series(0, 20), g -> g / 20.0))
                   AS qs
        FROM events
    ),
    seg AS (
        SELECT event_type, g, ROUND(qs[g + 1], 6) AS seg_q
        FROM seg0, UNNEST(generate_series(0, 20)) AS s(g)
    ),
    pooled AS (
        SELECT g, ROUND(qs[g + 1], 6) AS pooled_q
        FROM pooled0, UNNEST(generate_series(0, 20)) AS s(g)
    )
    SELECT s.event_type, CAST(s.g AS INTEGER) AS g, s.seg_q, p.pooled_q,
           ROUND(p.pooled_q - s.seg_q, 6) AS shift
    FROM seg s JOIN pooled p USING (g)
    ORDER BY s.event_type, s.g
    """,
    "Cross-segment score calibration (quantile normalization): the QQ "
    "mapping from each segment's score distribution onto the pooled "
    "distribution at a 21-point grid — how heterogeneous scorer "
    "versions or sources are put on one comparable scale before "
    "thresholding. Two percentile aggregates and a 21-row join; the "
    "mapping table is O(segments x grid) regardless of corpus size.",
)
def ns_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grid = [g / 20.0 for g in range(21)]
    pcts = F.array([F.lit(p) for p in grid])
    seg = (
        ev.groupBy("event_type")
        .agg(F.percentile("value", pcts).alias("qs"))
        .select(
            "event_type",
            F.posexplode("qs").alias("g", "seg_q0"),
        )
        .select(
            "event_type",
            F.col("g").cast("int").alias("g"),
            F.round("seg_q0", 6).alias("seg_q"),
        )
    )
    pooled = (
        ev.agg(F.percentile("value", pcts).alias("qs"))
        .select(F.posexplode("qs").alias("g", "pooled_q0"))
        .select(
            F.col("g").cast("int").alias("g"),
            F.round("pooled_q0", 6).alias("pooled_q"),
        )
    )
    return (
        seg.join(F.broadcast(pooled), "g")
        .select(
            "event_type",
            "g",
            "seg_q",
            "pooled_q",
            F.round(F.col("pooled_q") - F.col("seg_q"), 6).alias("shift"),
        )
        .orderBy("event_type", "g")
    )


@query(
    "ns_dp_histogram",
    """
    WITH g AS (
        SELECT lang,
               CAST(least(greatest(n_chars // 200, 0), 9) AS BIGINT)
                   AS lbucket,
               CAST(COUNT(*) AS BIGINT) AS true_count
        FROM documents
        GROUP BY 1, 2
        HAVING COUNT(*) >= 5
    )
    SELECT lang, lbucket, true_count,
           ROUND(true_count
                 - 1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 4)
               AS noisy_count
    FROM (
        SELECT *,
               (CAST(concat('0x', substr(md5('dp:' || lang || '|'
                    || CAST(lbucket AS VARCHAR)), 1, 15)) AS BIGINT)
                + 0.5) / 1152921504606846976.0 AS u
        FROM g
    )
    ORDER BY lang, lbucket
    """,
    "DP-style histogram AUDIT over (lang, length-bucket): "
    "k-suppression below 5, then Laplace(1/epsilon=1) noise from a "
    "deterministic md5-seeded inverse CDF. This is the release=False "
    "audit shape — true_count ships next to noisy_count precisely so "
    "the driver can hash-check the mechanism, which also means this "
    "output is NOT private; a real release uses release=True (drops "
    "true_count) plus a secret per-release nonce for the seed tag "
    "(operators/corpus_stats.py:dp_histogram docstring). One "
    "map-side-combined aggregation; the noise is a codegen projection.",
)
def ns_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.corpus_stats import dp_histogram

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.least(
            F.greatest(F.expr("n_chars DIV 200"), F.lit(0)), F.lit(9)
        )
        .cast("bigint")
        .alias("lbucket"),
    )
    return dp_histogram(
        docs, ["lang", "lbucket"], epsilon=1.0, k_min=5
    ).orderBy("lang", "lbucket")


@query(
    "ns_snapshot_diff",
    """
    WITH v1 AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fp,
               source
        FROM documents WHERE doc_id % 5 <> 0
    ),
    v2 AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(
                        CASE WHEN doc_id % 7 = 0
                             THEN text || ' rev2' ELSE text END),
                    '\\s+', ' ', 'g'))) AS fp,
               source
        FROM documents WHERE doc_id % 3 <> 0
    )
    SELECT COALESCE(v1.source, v2.source) AS source,
           CAST(SUM(CASE WHEN v1.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS added,
           CAST(SUM(CASE WHEN v2.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS removed,
           CAST(SUM(CASE WHEN v1.doc_id IS NOT NULL
                          AND v2.doc_id IS NOT NULL
                          AND v1.fp <> v2.fp THEN 1 ELSE 0 END)
                AS BIGINT) AS changed,
           CAST(SUM(CASE WHEN v1.fp = v2.fp THEN 1 ELSE 0 END)
                AS BIGINT) AS unchanged
    FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    GROUP BY 1
    ORDER BY source
    """,
    "Corpus release diff: FULL OUTER join of two snapshot versions on "
    "doc id (v1 = ids not div by 5, v2 = ids not div by 3 with every "
    "7th text revised — deterministic synth so both engines build "
    "identical versions), classifying each row added/removed/changed/"
    "unchanged by normalized-text fingerprint, rolled up per source — "
    "the what-changed-between-releases audit a dataset card cites. "
    "One id-keyed shuffle join + one source-keyed aggregation.",
)
def ns_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id", fingerprint(F.col("text")).alias("fp"), "source"
    )
    v2 = (
        docs.where(F.col("doc_id") % 3 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" rev2")),
            ).otherwise(F.col("text")),
        )
        .select("doc_id", fingerprint(F.col("text")).alias("fp"), "source")
    )
    j = v1.alias("a").join(v2.alias("b"), "doc_id", "full_outer")
    return (
        j.groupBy(
            F.coalesce(F.col("a.source"), F.col("b.source")).alias("source")
        )
        .agg(
            F.sum(
                F.when(F.col("a.doc_id").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("added"),
            F.sum(
                F.when(F.col("b.doc_id").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("removed"),
            F.sum(
                F.when(
                    F.col("a.doc_id").isNotNull()
                    & F.col("b.doc_id").isNotNull()
                    & (F.col("a.fp") != F.col("b.fp")),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("changed"),
            F.sum(
                F.when(F.col("a.fp") == F.col("b.fp"), 1).otherwise(0)
            ).cast("bigint").alias("unchanged"),
        )
        .orderBy("source")
    )
