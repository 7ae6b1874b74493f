"""Sketch-aggregate queries: KMV distinct estimation and count-min
frequency estimation over the documents token stream — APPROXIMATE
answers that are still hash-match oracle-checkable, because the sketch
state derives from the portable md5 hash family and the estimator is
integer/double arithmetic both engines evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import sketches
from takuan_zoo.operators.hashing import sql_md5_int, sql_md5_lane_int
from takuan_zoo.operators.text import words
from takuan_zoo.queries import query

#: Probe terms for the CMS query — fixed literals (present or not; an
#: absent term estimates from collision counts alone, possibly 0).
_CMS_TERMS = [
    "the", "a", "of", "to", "and", "in", "data", "for", "is", "quantum"
]

_TOKS_CTE = """
    toks AS (
        SELECT source,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    )
"""


@query(
    "ns_kmv_distinct",
    f"""
    WITH {_TOKS_CTE}
    {sketches.kmv_oracle_sql(source_expr="toks", group_col="source",
                             value_col="tok", k=16).replace("WITH ", ", ", 1)}
    ORDER BY source
    """,
    "KMV (k-minimum-values, k=16 — below the per-source vocabulary, so "
    "the ESTIMATOR path is what the oracle checks) distinct-token "
    "estimate per source: "
    "the mergeable cardinality sketch — each partition reduces to at "
    "most k hashes per group before the exchange (the map-side combine "
    "an exact distinct cannot have), and the merged k-minimum set is "
    "partitioning-invariant, so the approximate answer is exactly "
    "reproducible by the oracle's global row_number formulation.",
)
def ns_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(words(F.col("text"))).alias("tok"))
    return sketches.kmv_distinct(
        toks, group_cols=["source"], value_col="tok", k=16
    ).orderBy("source")


#: histogram-sketch range for o_totalprice: a resolution choice (values
#: outside clamp into the edge bins), embedded identically both sides.
_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 600_000.0, 256
_HQ_W = (_HQ_HI - _HQ_LO) / _HQ_BINS
_HQ_QS = (0.5, 0.9, 0.99)


@query(
    "q_quantile_sketch",
    f"""
    WITH hist AS (
        SELECT o_orderpriority,
               CAST(least(greatest(floor((o_totalprice - {_HQ_LO!r})
                                         / {_HQ_W!r}), 0),
                          {_HQ_BINS - 1}) AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderpriority, bin, c,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority
                                 ORDER BY bin) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority
                                 ORDER BY bin) - c AS BIGINT) AS cum0,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS total
        FROM hist
    ),
    probes AS (SELECT CAST(unnest([{", ".join(repr(q) for q in _HQ_QS)}])
                           AS DOUBLE) AS q)
    SELECT o_orderpriority, q,
           floor(({_HQ_LO!r} + bin * {_HQ_W!r}
                  + {_HQ_W!r} * (q * total - cum0) / c) * 10000.0 + 0.5)
               / 10000.0 AS est
    FROM cum, probes
    WHERE q * total > cum0 AND q * total <= cum
    ORDER BY o_orderpriority, q
    """,
    "Approximate p50/p90/p99 per order priority from a 256-bin "
    "histogram sketch with in-bin linear interpolation — the mergeable "
    "quantile path: one hash aggregation with <= 256 rows of state per "
    "group (vs the exact percentile's whole-group sort state, "
    "q_percentiles), windows over the tiny grid, probes broadcast. "
    "Epoch/shard grids merge by summing cells.",
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hist = sketches.histogram_sketch(
        orders,
        group_cols=["o_orderpriority"],
        value_col="o_totalprice",
        lo=_HQ_LO,
        hi=_HQ_HI,
        bins=_HQ_BINS,
    )
    return sketches.histogram_quantiles(
        hist,
        group_cols=["o_orderpriority"],
        lo=_HQ_LO,
        hi=_HQ_HI,
        bins=_HQ_BINS,
        qs=_HQ_QS,
    ).orderBy("o_orderpriority", "q")


@query(
    "ns_hll_distinct",
    f"""
    WITH {_TOKS_CTE}
    {sketches.hll_oracle_sql(source_expr="toks", group_col="source",
                             value_col="tok").replace("WITH ", ", ", 1)}
    ORDER BY source
    """,
    "HyperLogLog (m=64 registers, md5-derived 60-bit hashes) distinct-"
    "token estimate per source — the fixed-size max-sketch: every "
    "partition collapses to <= 64 (reg, max rho) rows per group before "
    "the exchange, merges are cell-wise max (associative, partitioning-"
    "invariant), and the harmonic sum stays in exact integer fixed-"
    "point so the approximate answer is bit-reproducible by the "
    "oracle's global formulation. Complements KMV: registers never "
    "grow with k and the state is 64 ints however large the corpus.",
)
def ns_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.operators.skew import spread

    # spread: the pre-shuffle md5-per-token map is the cost and the
    # row-group count would cap it at 12 of 32 cores
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode(words(F.col("text"))).alias("tok"))
    return sketches.hll_distinct(
        toks, group_cols=["source"], value_col="tok"
    ).orderBy("source")


@query(
    "ns_cms_heavy_hitters",
    f"""
    WITH {_TOKS_CTE},
    plane AS (
        SELECT source, tok, r.j AS row
        FROM toks CROSS JOIN UNNEST(generate_series(0, 3)) AS r(j)
    ),
    counters AS (
        SELECT source, row,
               CAST({sql_md5_lane_int("tok", "row")} % 256 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM plane GROUP BY 1, 2, 3
    ),
    probes AS (
        SELECT t.term, r.j AS row,
               CAST({sql_md5_lane_int("t.term", "r.j")} % 256 AS INT) AS bucket
        FROM (VALUES {", ".join(f"('{t}')" for t in _CMS_TERMS)}) AS t(term)
        CROSS JOIN UNNEST(generate_series(0, 3)) AS r(j)
    ),
    grid AS (
        SELECT g.source, p.term, p.row, p.bucket
        FROM (SELECT DISTINCT source FROM counters) g CROSS JOIN probes p
    )
    SELECT grid.source, grid.term,
           CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_count
    FROM grid LEFT JOIN counters c
      ON c.source = grid.source AND c.row = grid.row
     AND c.bucket = grid.bucket
    GROUP BY grid.source, grid.term
    ORDER BY grid.source, grid.term
    """,
    "Count-min sketch (4 x 256) per source with point estimates for 10 "
    "probe terms: bounded counter-grid state built by one partial+final "
    "hash aggregation regardless of distinct cardinality; estimates are "
    "min-over-rows with empty buckets counting 0 (probe grid LEFT-joins "
    "the counters). md5-derived bucket hashes make the approximate "
    "counts bit-reproducible by the oracle.",
)
def ns_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(words(F.col("text"))).alias("tok"))
    counters = sketches.cms_counters(
        toks, group_cols=["source"], value_col="tok", depth=4, width=256
    )
    probes = docs.sparkSession.createDataFrame(
        [(t,) for t in _CMS_TERMS], "term string"
    )
    return sketches.cms_estimate(
        counters, probes, group_cols=["source"], depth=4, width=256
    ).orderBy("source", "term")


@query(
    "ns_cms_join_size",
    f"""
    WITH u AS (
        SELECT CAST(user_id AS VARCHAR) AS uid FROM events
    ),
    plane AS (
        SELECT uid, r.j AS row
        FROM u CROSS JOIN UNNEST(generate_series(0, 3)) AS r(j)
    ),
    grid AS (
        SELECT row,
               CAST({sql_md5_lane_int("uid", "row")} % 256 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM plane GROUP BY 1, 2
    ),
    est AS (
        SELECT CAST(MIN(f2) AS BIGINT) AS est_selfjoin FROM (
            SELECT row, SUM(c * c) AS f2 FROM grid GROUP BY row)
    ),
    exact AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS true_selfjoin FROM (
            SELECT uid, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY uid)
    )
    SELECT est_selfjoin, true_selfjoin,
           ROUND(CAST(est_selfjoin AS DOUBLE) / true_selfjoin, 4)
               AS overestimate
    FROM est, exact
    """,
    "Self-join size (second frequency moment F2) estimated from a "
    "count-min sketch — min over rows of the grid's sum-of-squares, "
    "the AMS/CMS inner-product estimator — against the exact F2. This "
    "IS the shuffle-cost question a planner asks before a key join "
    "('how many output rows if I join on user_id?'), answered from "
    "4x256 counters instead of a full per-key count, and mergeable "
    "across epochs like every linear sketch.",
)
def ns_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("uid"))
        .withColumn("g", F.lit("all"))
    )
    grid = sketches.cms_counters(
        ev, group_cols=["g"], value_col="uid", depth=4, width=256
    )
    est = (
        grid.groupBy("row")
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
        .agg(F.min("f2").cast("bigint").alias("est_selfjoin"))
    )
    exact = (
        ev.groupBy("uid")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("true_selfjoin"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_selfjoin",
        "true_selfjoin",
        F.round(
            F.col("est_selfjoin").cast("double") / F.col("true_selfjoin"), 4
        ).alias("overestimate"),
    )


_KSO_K = 64
_KSO_SPLIT = "1995-01-01"


@query(
    "ns_kmv_set_ops",
    f"""
    WITH ha AS (
        SELECT DISTINCT {sql_md5_int("CAST(l_partkey AS VARCHAR)",
                                     hex_chars=15)} AS h
        FROM lineitem WHERE l_shipdate < DATE '{_KSO_SPLIT}'
    ),
    hb AS (
        SELECT DISTINCT {sql_md5_int("CAST(l_partkey AS VARCHAR)",
                                     hex_chars=15)} AS h
        FROM lineitem WHERE l_shipdate >= DATE '{_KSO_SPLIT}'
    ),
    x AS (
        SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
        ORDER BY h LIMIT {_KSO_K}
    ),
    fl AS (
        SELECT x.h,
               CASE WHEN ha.h IS NOT NULL THEN 1 ELSE 0 END AS ia,
               CASE WHEN hb.h IS NOT NULL THEN 1 ELSE 0 END AS ib
        FROM x LEFT JOIN ha ON ha.h = x.h LEFT JOIN hb ON hb.h = x.h
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_x,
               MAX(h) AS h_k,
               CAST(SUM(ia * ib) AS BIGINT) AS rho_n
        FROM fl
    )
    SELECT CAST(CASE WHEN n_x >= {_KSO_K}
                     THEN floor(({_KSO_K} - 1.0) * {float(1 << 60)!r} / h_k)
                     ELSE n_x END AS BIGINT) AS est_union,
           ROUND(rho_n * CAST(CASE WHEN n_x >= {_KSO_K}
                     THEN floor(({_KSO_K} - 1.0) * {float(1 << 60)!r} / h_k)
                     ELSE n_x END AS DOUBLE) / n_x, 4) AS est_intersection,
           ROUND(CAST(rho_n AS DOUBLE) / n_x, 6) AS est_jaccard
    FROM s
    """,
    "Theta-sketch-style set operations from KMV state: |A ∪ B| from "
    "the merged k-minimum set, |A ∩ B| and Jaccard from the fraction "
    "of the union sketch's hashes present in both sets — set "
    "cardinality algebra over two 64-hash sketches instead of a "
    "distinct-join over the raw sets (A/B here: parts shipped before "
    "vs after the 1995-01-01 split). Every term is integer or a single shared "
    "division, so the approximate answers hash-match the oracle.",
)
def ns_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.hashing import md5_int

    from takuan_zoo.operators.skew import materialize

    li = load_table(spark, sf_dir, "lineitem")
    split = F.lit(_KSO_SPLIT).cast("date")
    h = md5_int(F.col("l_partkey").cast("string"), hex_chars=15)
    # each hash set feeds the union AND its membership join: materialize
    # so the filtered scan + distinct runs once per set.
    ha = materialize(
        li.where(F.col("l_shipdate") < split).select(h.alias("h")).distinct()
    )
    hb = materialize(
        li.where(F.col("l_shipdate") >= split).select(h.alias("h")).distinct()
    )
    x = ha.unionAll(hb).distinct().orderBy("h").limit(_KSO_K)
    fl = (
        x.join(ha.withColumnRenamed("h", "h_a"), x["h"] == F.col("h_a"), "left")
        .join(hb.withColumnRenamed("h", "h_b"), x["h"] == F.col("h_b"), "left")
        .select(
            "h",
            F.when(F.col("h_a").isNotNull(), 1).otherwise(0).alias("ia"),
            F.when(F.col("h_b").isNotNull(), 1).otherwise(0).alias("ib"),
        )
    )
    s = fl.agg(
        F.count("*").cast("bigint").alias("n_x"),
        F.max("h").alias("h_k"),
        F.sum(F.col("ia") * F.col("ib")).cast("bigint").alias("rho_n"),
    )
    est_union = F.when(
        F.col("n_x") >= _KSO_K,
        F.floor(
            F.lit(float(_KSO_K - 1)) * F.lit(float(1 << 60)) / F.col("h_k")
        ),
    ).otherwise(F.col("n_x"))
    return s.select(
        est_union.cast("bigint").alias("est_union"),
        F.round(
            F.col("rho_n") * est_union.cast("double") / F.col("n_x"), 4
        ).alias("est_intersection"),
        F.round(F.col("rho_n").cast("double") / F.col("n_x"), 6).alias(
            "est_jaccard"
        ),
    )


@query(
    "q_sliding_distinct_hll",
    f"""
    WITH ev AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(user_id AS VARCHAR) AS uid
        FROM events
    ),
    {sketches.hll_registers_sql(source_expr="ev", group_col="day",
                                value_col="uid")},
    days AS (SELECT DISTINCT day FROM regs),
    win AS (
        SELECT d.day, s.reg, CAST(MAX(s.r) AS INT) AS r
        FROM days d JOIN regs s
          ON s.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        GROUP BY 1, 2
    ),
    {sketches.hll_estimator_sql(group_col="day", regs_rel="win")}
    ORDER BY day
    """,
    "Rolling 7-day distinct users via HLL register max-merge: one "
    "64-int register set per DAY, then each window estimate folds 7 "
    "daily sets — total state days x 64 ints, where the exact rolling "
    "COUNT DISTINCT (q_sliding_distinct) re-shuffles the raw event "
    "stream per window. The day-to-window expansion joins against the "
    "broadcast tiny day dimension; estimates are bit-reproducible by "
    "the oracle like every sketch here.",
)
def q_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    daily = sketches.hll_registers(ev, group_cols=["day"], value_col="uid")
    from takuan_zoo.operators.skew import materialize

    daily = materialize(daily)  # feeds the day dim AND the window join
    days = daily.select(F.col("day").alias("win_day")).distinct()
    merged = (
        daily.join(
            F.broadcast(days),
            (F.col("day") <= F.col("win_day"))
            & (F.col("day") >= F.date_sub(F.col("win_day"), 6)),
        )
        .groupBy(F.col("win_day").alias("day"), F.col("reg"))
        .agg(F.max("r").cast("int").alias("r"))
    )
    return sketches.hll_estimate(merged, group_cols=["day"]).orderBy("day")


@query(
    "ns_quantile_sketch_error",
    f"""
    WITH hist AS (
        SELECT o_orderpriority,
               CAST(least(greatest(floor((o_totalprice - {_HQ_LO!r})
                                         / {_HQ_W!r}), 0),
                          {_HQ_BINS - 1}) AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderpriority, bin, c,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority
                                 ORDER BY bin) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority
                                 ORDER BY bin) - c AS BIGINT) AS cum0,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS total
        FROM hist
    ),
    probes AS (SELECT CAST(unnest([{", ".join(repr(q) for q in _HQ_QS)}])
                           AS DOUBLE) AS q),
    est AS (
        SELECT o_orderpriority, q,
               floor(({_HQ_LO!r} + bin * {_HQ_W!r}
                      + {_HQ_W!r} * (q * total - cum0) / c) * 10000.0
                     + 0.5) / 10000.0 AS est
        FROM cum, probes
        WHERE q * total > cum0 AND q * total <= cum
    ),
    exact0 AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice,
                             [{", ".join(repr(q) for q in _HQ_QS)}]) AS exs
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    exact AS (
        SELECT o_orderpriority,
               CAST([{", ".join(repr(q) for q in _HQ_QS)}][i]
                    AS DOUBLE) AS q,
               floor(exs[i] * 100.0 + 0.5) / 100.0 AS exact
        FROM exact0, UNNEST(generate_series(1, {len(_HQ_QS)})) AS g(i)
    )
    SELECT e.o_orderpriority, e.q, e.est, x.exact,
           floor(abs(e.est - x.exact) * 100.0 + 0.5) / 100.0 AS abs_err,
           floor(abs(e.est - x.exact) * 100.0 + 0.5) / 100.0
               <= {_HQ_W!r} AS within_bin_width
    FROM est e JOIN exact x
      ON e.o_orderpriority = x.o_orderpriority AND e.q = x.q
    ORDER BY e.o_orderpriority, e.q
    """,
    "Sketch error audit: the 256-bin histogram-sketch quantile "
    "estimate (q_quantile_sketch's exact machinery) joined against "
    "the TRUE interpolated percentile per (priority, q), with the "
    "absolute error and the <= bin-width acceptance bound — the QC "
    "row that prices the sketch before it replaces exact percentiles "
    "at scale (the same ships-with-its-error-audit discipline as "
    "ns_ann_recall / ns_minhash_recall). The exact side costs the "
    "whole-group sort the sketch avoids; running both IS the audit.",
)
def ns_quantile_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    hist = sketches.histogram_sketch(
        orders,
        group_cols=["o_orderpriority"],
        value_col="o_totalprice",
        lo=_HQ_LO,
        hi=_HQ_HI,
        bins=_HQ_BINS,
    )
    est = sketches.histogram_quantiles(
        hist,
        group_cols=["o_orderpriority"],
        lo=_HQ_LO,
        hi=_HQ_HI,
        bins=_HQ_BINS,
        qs=_HQ_QS,
    )
    qs_arr = F.array(*[F.lit(float(q)) for q in _HQ_QS])
    exact = (
        orders.groupBy("o_orderpriority")
        .agg(F.percentile("o_totalprice", qs_arr).alias("ex"))
        .select(
            "o_orderpriority",
            F.explode(F.arrays_zip(qs_arr.alias("q"), F.col("ex").alias("v"))).alias("z"),
        )
        .select(
            "o_orderpriority",
            F.col("z.q").alias("q"),
            (F.floor(F.col("z.v") * 100.0 + 0.5) / 100.0).alias("exact"),
        )
    )
    err = F.floor(F.abs(F.col("est") - F.col("exact")) * 100.0 + 0.5) / 100.0
    return (
        est.join(exact, ["o_orderpriority", "q"])
        .select(
            "o_orderpriority",
            "q",
            "est",
            "exact",
            err.alias("abs_err"),
            (err <= F.lit(_HQ_W)).alias("within_bin_width"),
        )
        .orderBy("o_orderpriority", "q")
    )


@query(
    "ns_cardinality_sketch_error",
    f"""
    WITH {_TOKS_CTE},
    kmv AS (SELECT * FROM (
        {sketches.kmv_oracle_sql(source_expr="toks", group_col="source",
                                 value_col="tok", k=16)}
    )),
    hll AS (SELECT * FROM (
        {sketches.hll_oracle_sql(source_expr="toks", group_col="source",
                                 value_col="tok")}
    )),
    exact AS (
        SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT)
                   AS exact_distinct
        FROM toks GROUP BY 1
    )
    SELECT 'hll' AS sketch, h.source,
           CAST(h.est_distinct AS DOUBLE) AS est_distinct,
           e.exact_distinct,
           ROUND(abs(h.est_distinct - e.exact_distinct)
                 / e.exact_distinct, 4) AS rel_err
    FROM hll h JOIN exact e USING (source)
    UNION ALL
    SELECT 'kmv', k.source, CAST(k.est_distinct AS DOUBLE),
           e.exact_distinct,
           ROUND(abs(k.est_distinct - e.exact_distinct) * 1.0
                 / e.exact_distinct, 4)
    FROM kmv k JOIN exact e USING (source)
    ORDER BY sketch, source
    """,
    "Cardinality-sketch error panel: KMV (k=16, estimator path) and "
    "HLL (m=64) distinct-token estimates joined against the exact "
    "per-source distinct count, with relative error — the audit that "
    "prices each sketch before it replaces COUNT(DISTINCT) at scale "
    "(completing the error-audit discipline across the sketch family "
    "alongside ns_quantile_sketch_error). The exact side costs the "
    "distinct shuffle the sketches avoid; running both IS the audit.",
)
def ns_cardinality_sketch_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(words(F.col("text"))).alias("tok")
    )
    exact = toks.groupBy("source").agg(
        F.count_distinct("tok").cast("bigint").alias("exact_distinct")
    )
    kmv = sketches.kmv_distinct(
        toks, group_cols=["source"], value_col="tok", k=16
    ).select("source", "est_distinct")
    hll = sketches.hll_distinct(
        toks, group_cols=["source"], value_col="tok"
    ).select("source", "est_distinct")

    def _labeled(est: DataFrame, label: str) -> DataFrame:
        return est.select(
            F.lit(label).alias("sketch"),
            "source",
            F.col("est_distinct").cast("double").alias("est_distinct"),
        )

    # union the (sketch-sized) estimates FIRST and join `exact` once:
    # joining exact into each panel separately re-ran the full
    # explode + count_distinct shuffle per panel — 4 document scans
    # where 3 suffice (measured ~25% of the row's cost at sf0.1; the
    # r10 bench flagged this row and the re-profile traced the fixed
    # term here, not to a plan regression).
    return (
        _labeled(hll, "hll")
        .unionAll(_labeled(kmv, "kmv"))
        .join(exact, "source")
        .select(
            "sketch",
            "source",
            "est_distinct",
            "exact_distinct",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                * 1.0
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("sketch", "source")
    )


@query(
    "ns_cms_error",
    f"""
    WITH {_TOKS_CTE},
    plane AS (
        SELECT source, tok, r.j AS row
        FROM toks CROSS JOIN UNNEST(generate_series(0, 3)) AS r(j)
    ),
    counters AS (
        SELECT source, row,
               CAST({sql_md5_lane_int("tok", "row")} % 256 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM plane GROUP BY 1, 2, 3
    ),
    probes AS (
        SELECT t.term, r.j AS row,
               CAST({sql_md5_lane_int("t.term", "r.j")} % 256 AS INT) AS bucket
        FROM (VALUES {", ".join(f"('{t}')" for t in _CMS_TERMS)}) AS t(term)
        CROSS JOIN UNNEST(generate_series(0, 3)) AS r(j)
    ),
    grid AS (
        SELECT g.source, p.term, p.row, p.bucket
        FROM (SELECT DISTINCT source FROM counters) g CROSS JOIN probes p
    ),
    est AS (
        SELECT grid.source, grid.term,
               CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_count
        FROM grid LEFT JOIN counters c
          ON c.source = grid.source AND c.row = grid.row
         AND c.bucket = grid.bucket
        GROUP BY grid.source, grid.term
    ),
    exact AS (
        SELECT source, tok AS term, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM toks
        WHERE tok IN ({", ".join(f"'{t}'" for t in _CMS_TERMS)})
        GROUP BY 1, 2
    )
    SELECT e.source, e.term, e.est_count,
           COALESCE(x.exact_count, 0) AS exact_count,
           e.est_count - COALESCE(x.exact_count, 0) AS overcount,
           e.est_count >= COALESCE(x.exact_count, 0) AS one_sided_ok
    FROM est e LEFT JOIN exact x
      ON e.source = x.source AND e.term = x.term
    ORDER BY e.source, e.term
    """,
    "CMS error audit: the 4x256 count-min point estimates for the 10 "
    "probe terms joined against exact term counts — overcount "
    "(collision mass) per (source, term) and the one-sided guarantee "
    "(CMS never underestimates) checked as a column. Completes the "
    "error-audit set for every sketch family (quantile, cardinality, "
    "frequency). Absent terms estimate from collisions alone; exact "
    "side defaults 0 via LEFT join.",
)
def ns_cms_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(words(F.col("text"))).alias("tok")
    )
    counters = sketches.cms_counters(
        toks, group_cols=["source"], value_col="tok", depth=4, width=256
    )
    probes = docs.sparkSession.createDataFrame(
        [(t,) for t in _CMS_TERMS], "term string"
    )
    est = sketches.cms_estimate(
        counters, probes, group_cols=["source"], depth=4, width=256
    )
    exact = (
        toks.where(F.col("tok").isin(_CMS_TERMS))
        .groupBy("source", F.col("tok").alias("term"))
        .agg(F.count("*").cast("bigint").alias("exact_count"))
    )
    ex = F.coalesce(F.col("exact_count"), F.lit(0).cast("bigint"))
    return (
        est.join(exact, ["source", "term"], "left")
        .select(
            "source",
            "term",
            "est_count",
            ex.alias("exact_count"),
            (F.col("est_count") - ex).cast("bigint").alias("overcount"),
            (F.col("est_count") >= ex).alias("one_sided_ok"),
        )
        .orderBy("source", "term")
    )


@query(
    "q_native_sketch_parity",
    """
    WITH med AS (
        SELECT l_returnflag, l_extendedprice AS exact_p50 FROM (
            SELECT l_returnflag, l_extendedprice,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
            FROM lineitem
        ) WHERE rn = (cnt + 1) // 2
    )
    SELECT d.l_returnflag,
           CAST(COUNT(DISTINCT d.l_partkey) AS BIGINT) AS exact_distinct,
           MIN(m.exact_p50) AS exact_p50,
           TRUE AS hllpp_within_3rsd,
           TRUE AS gk_within_1pct
    FROM lineitem d JOIN med m ON m.l_returnflag = d.l_returnflag
    GROUP BY d.l_returnflag
    ORDER BY d.l_returnflag
    """,
    "Spark-NATIVE sketch accuracy claims, driver-checked (the "
    "ns_minhash_prod_mode pattern for engine-internal, non-portable "
    "sketches): approx_count_distinct is Spark's HyperLogLog++ and "
    "approx_percentile its Greenwald-Khanna sketch — no external "
    "engine can replay their exact state, so the QUERY returns the "
    "accuracy CLAIM as boolean columns (HLL++ estimate within 3x the "
    "requested 5% rsd of the exact distinct count; GK median within "
    "1% relative of the exact DISCRETE lower median — an actual data "
    "element, because the interpolated median's arithmetic rounds "
    "differently across engines at half-ulp boundaries) next to the "
    "exact values the oracle recomputes. A native-sketch accuracy "
    "regression flips a flag and fails the hash check instead of "
    "hiding. Both sketches are the mergeable one-pass structures the "
    "engine itself uses for partial aggregation at any scale.",
)
def q_native_sketch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    # two aggregations joined on the 3-row group key, NOT one: mixing
    # COUNT(DISTINCT) with the exact median plans an Expand that
    # triples every input row through the exact side's buffers — the
    # combined plan measured 10.9 s at sf0.1 vs ~1.5 s split (the
    # distinct agg sees only (flag, partkey), the median side only
    # (flag, price))
    dist = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").cast("bigint").alias("exact_distinct"),
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("_hll"),
    )
    # exact side = the DISCRETE lower median (row (cnt+1)//2 of the
    # per-group price order): an actual element, so both engines see
    # the identical parquet double — the per-group sort is the audit's
    # deliberate cost, approx_percentile is the production path
    wo = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wp = Window.partitionBy("l_returnflag")
    med = (
        li.select("l_returnflag", "l_extendedprice")
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("cnt", F.count(F.lit(1)).over(wp))
        .where(F.expr("rn = (cnt + 1) div 2"))
        .select("l_returnflag", F.col("l_extendedprice").alias("exact_p50"))
    )
    pct = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias(
                "_gk"
            )
        )
        .join(med, "l_returnflag")
    )
    return (
        dist.join(F.broadcast(pct), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_distinct",
            "exact_p50",
            (
                F.abs(F.col("_hll") - F.col("exact_distinct"))
                <= 0.15 * F.col("exact_distinct")
            ).alias("hllpp_within_3rsd"),
            (
                F.abs(F.col("_gk") - F.col("exact_p50"))
                <= 0.01 * F.col("exact_p50")
            ).alias("gk_within_1pct"),
        )
        .orderBy("l_returnflag")
    )
