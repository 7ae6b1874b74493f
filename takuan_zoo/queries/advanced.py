"""Advanced surface: event-time windows (tumbling was covered in
takuan_hourly_window; here sliding + session), subqueries, statistical
aggregates, array functions, full-outer join, pivot-style conditional
aggregation, and the true range-lookup geo join.

Session windows deserve a note: Spark has a first-class
``session_window`` operator; ANSI SQL expresses the same thing as a
gaps-and-islands window chain (lag → gap flag → cumulative session id).
Registering both proves the Spark operator against the portable
formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.operators.enrich import ip_range_enrich, ip_to_long
from takuan_spark.tables import load_table
from takuan_zoo.queries import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DDB = "%Y-%m-%d %H:%M:%S"


@query(
    "q_sliding_window",
    f"""
    WITH expanded AS (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
               event_type, value
        FROM events
    )
    SELECT strftime(ws, '{_TS_FMT_DDB}') AS window_start,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM expanded
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
    "Sliding event-time window (2h size, 1h slide): every event lands in "
    "two windows. Batch analog of the streaming F.window slide path.",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


_SESSIONS_CTE = f"""
    seq2 AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq2
    ),
    iv AS (
        SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_id
    )"""


@query(
    "q_session_window",
    f"""
    WITH {_SESSIONS_CTE}
    SELECT user_id,
           strftime(s_start, '{_TS_FMT_DDB}') AS session_start,
           n_events
    FROM iv
    ORDER BY user_id, session_start
    """,
    "Session windows (30 min gap) per user: Spark's session_window "
    "operator vs the portable gaps-and-islands SQL. The streaming analog "
    "is groupBy(session_window(ts, gap)) with a watermark.",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(sw.alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q_scalar_subquery",
    """
    SELECT p_partkey, p_name, ROUND(p_retailprice, 2) AS price
    FROM part
    WHERE p_retailprice > (SELECT AVG(p_retailprice) * 1.5 FROM part)
    ORDER BY p_partkey
    """,
    "Scalar subquery in a predicate (uncorrelated).",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    threshold = part.agg((F.avg("p_retailprice") * 1.5).alias("t"))
    return (
        part.join(F.broadcast(threshold))
        .where(F.col("p_retailprice") > F.col("t"))
        .select("p_partkey", "p_name", F.round("p_retailprice", 2).alias("price"))
        .orderBy("p_partkey")
    )


@query(
    "q_correlated_subquery",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
    FROM orders o
    WHERE o_totalprice > 2 * (
        SELECT AVG(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
    )
    ORDER BY o_orderkey
    """,
    "Correlated subquery: orders more than 2x their customer's average. "
    "Decorrelates to a self-join on the group key.",
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    avgs = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("cust_avg")
    )
    return (
        orders.join(avgs, orders.o_custkey == avgs.k)
        .where(F.col("o_totalprice") > 2 * F.col("cust_avg"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price")
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_stats_agg",
    """
    SELECT event_type,
           ROUND(stddev_samp(value), 4)          AS sd,
           ROUND(var_samp(value), 4)             AS var,
           ROUND(quantile_cont(value, 0.5), 4)   AS median,
           ROUND(MIN(value), 2)                  AS min_v,
           ROUND(MAX(value), 2)                  AS max_v
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "Statistical aggregates: sample stddev/variance, exact interpolated "
    "median (percentile), min/max.",
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 4).alias("sd"),
            F.round(F.var_samp("value"), 4).alias("var"),
            F.round(F.percentile("value", 0.5), 4).alias("median"),
            F.round(F.min("value"), 2).alias("min_v"),
            F.round(F.max("value"), 2).alias("max_v"),
        )
        .orderBy("event_type")
    )


@query(
    "q_array_functions",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                w -> w <> '')) AS INT) AS n_words,
           array_to_string(list_filter(string_split_regex(text, '\\s+'),
                                        w -> w <> '')[1:3], ' ') AS head3,
           CAST(len(list_distinct(list_filter(string_split_regex(text, '\\s+'),
                                              w -> w <> ''))) AS INT) AS n_distinct,
           CASE WHEN list_contains(list_filter(string_split_regex(text, '\\s+'),
                                               w -> w <> ''), 'spark')
                THEN 1 ELSE 0 END AS has_spark
    FROM documents
    ORDER BY doc_id
    """,
    "Array functions over tokenized text: size, slice+join, distinct "
    "size, membership — the split/array surface (O23 building blocks).",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.text import words

    docs = _t(spark, sf_dir, "documents")
    w = words(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.array_join(F.slice(w, 1, 3), " ").alias("head3"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.when(F.array_contains(w, "spark"), 1).otherwise(0).alias("has_spark"),
    ).orderBy("doc_id")


@query(
    "q_full_outer_join",
    """
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
               FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
               FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
    SELECT COALESCE(c.nk, s.nk) AS nationkey, n_cust, n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
    "Full outer join with NULL-preserving sides (filtered aggregates "
    "make each side miss some nations).",
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cust.join(supp, cust.nk_c == supp.nk_s, "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            "n_cust",
            "n_supp",
        )
        .orderBy("nationkey")
    )


@query(
    "q_asof_join",
    """
    WITH errors AS (SELECT * FROM events WHERE event_type = 'error'),
         clicks AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'click')
    SELECT e.event_id, e.user_id, e.ts AS err_ts,
           c.ts AS click_ts, c.value AS click_value
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY e.event_id
    """,
    "As-of (point-in-time) join: each error event picks up the user's "
    "latest click at-or-before it. Spark side is the union-tag pattern "
    "(one shuffle, running last-ignorenulls window) — no native as-of "
    "join needed; DuckDB side is its built-in ASOF JOIN.",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return (
        asof_join(
            errors,
            clicks,
            on="user_id",
            left_time="ts",
            right_time="ts",
            right_values={"ts": "click_ts", "value": "click_value"},
        )
        .withColumnRenamed("ts", "err_ts")
        .orderBy("event_id")
    )


@query(
    "q_funnel",
    """
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM events
        GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT)                          AS n_users,
           CAST(COUNT(t_view) AS BIGINT)                     AS n_view,
           CAST(SUM(CASE WHEN t_view < t_click
                         THEN 1 ELSE 0 END) AS BIGINT)       AS n_view_click,
           CAST(SUM(CASE WHEN t_view < t_click AND t_click < t_buy
                         THEN 1 ELSE 0 END) AS BIGINT)       AS n_converted
    FROM stages
    ORDER BY n_users
    """,
    "Funnel analysis: users whose first view precedes first click "
    "precedes first purchase — one scan, one shuffle (conditional MIN "
    "per stage), no self-joins.",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    stage = lambda et: F.min(  # noqa: E731
        F.when(F.col("event_type") == et, F.col("ts"))
    )
    stages = ev.groupBy("user_id").agg(
        stage("view").alias("t_view"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_buy"),
    )
    vc = F.col("t_view") < F.col("t_click")
    cb = vc & (F.col("t_click") < F.col("t_buy"))
    return stages.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.sum(F.when(vc, 1).otherwise(0)).alias("n_view_click"),
        F.sum(F.when(cb, 1).otherwise(0)).alias("n_converted"),
    ).orderBy("n_users")


@query(
    "q_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(strftime(cohort_day, '%Y-%m-%d') AS VARCHAR) AS cohort,
           CAST(day_offset AS INT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    ORDER BY cohort, day_offset
    """,
    "Cohort retention: users grouped by first-seen day, distinct active "
    "users per day offset for the first week. Two shuffles (first-seen "
    "agg, distinct+count); the firsts side is a per-user dim that "
    "broadcasts under AQE at bench scale.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.col("day_offset").cast("int"),
            F.col("n_users"),
        )
        .orderBy("cohort", "day_offset")
    )


@query(
    "q_pivot_conditional",
    """
    SELECT user_id,
           ROUND(SUM(CASE WHEN event_type = 'click'    THEN value END), 2) AS click_v,
           ROUND(SUM(CASE WHEN event_type = 'view'     THEN value END), 2) AS view_v,
           ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase_v,
           ROUND(SUM(CASE WHEN event_type = 'error'    THEN value END), 2) AS error_v,
           ROUND(SUM(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup_v
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    "Pivot as conditional aggregation: one column per event type "
    "(the portable form of df.groupBy().pivot()).",
)
def q_pivot_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.round(
            F.sum(F.when(F.col("event_type") == et, F.col("value"))), 2
        ).alias(f"{et}_v")
        for et in ["click", "view", "purchase", "error", "signup"]
    ]
    return ev.groupBy("user_id").agg(*aggs).orderBy("user_id")


def ip_range_enrich_bucketed(
    events: DataFrame,
    ranges: DataFrame,
    *,
    ip_col: str = "address",
    lo_col: str = "ip_lo",
    hi_col: str = "ip_hi",
    bucket_bits: int = 8,
) -> DataFrame:
    """Range lookup as an equi-join — the 100 TB path for O12.

    Both sides are bucketed by the top ``bucket_bits`` of the 32-bit
    address (a range spanning several buckets is exploded into one row
    per bucket), and the join is *equi on the bucket* with the range
    test as a residual join filter. Catalyst plans a hash/sort-merge
    join instead of a nested loop, so the work per fact row is one hash
    probe + a few range checks — and unlike the broadcast form it
    shuffles, scales past broadcast-able dim sizes, and skew-splits
    under AQE. Semantics identical to :func:`ip_range_enrich` (left
    outer, all matching ranges).
    """
    shift = 32 - bucket_bits
    ev = events.withColumn("_ipl", ip_to_long(F.col(ip_col))).withColumn(
        "_bkt", F.shiftright(F.col("_ipl"), shift)
    )
    rng = ranges.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.shiftright(F.col(lo_col), shift),
                F.shiftright(F.col(hi_col), shift),
            )
        ),
    )
    cond = (
        (ev["_bkt"] == rng["_bkt"])
        & (ev["_ipl"] >= rng[lo_col])
        & (ev["_ipl"] <= rng[hi_col])
    )
    return (
        ev.join(rng, cond, "left")
        .drop("_bkt", "_ipl", lo_col, hi_col)
    )


def _ip_test_frames(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events")
    with_ip = ev.select(
        "event_id",
        F.concat(
            F.lit("10."),
            (F.col("user_id") % 256).cast("string"),
            F.lit("."),
            (F.col("event_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("address"),
    )
    spark_ranges = spark.createDataFrame(
        [
            (167772160, 167837695, "AA"),  # 10.0.0.0/16
            (167837696, 167903231, "BB"),  # 10.1.0.0/16
            (171966464, 174063615, "CC"),  # 10.64.0.0 - 10.95.255.255
        ],
        "ip_lo bigint, ip_hi bigint, country_code string",
    )
    return with_ip, spark_ranges


@query(
    "q_ip_range_join",
    """
    WITH ips AS (
        SELECT event_id,
               '10.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
               CAST(event_id % 256 AS VARCHAR) || '.1' AS address
        FROM events
    ),
    ipl AS (
        SELECT event_id, address,
               10 * 16777216 + (CAST(string_split(address, '.')[2] AS BIGINT) * 65536)
                  + (CAST(string_split(address, '.')[3] AS BIGINT) * 256) + 1 AS ip
        FROM ips
    ),
    dim(lo, hi, country_code) AS (
        VALUES (CAST(167772160 AS BIGINT), CAST(167837695 AS BIGINT), 'AA'),
               (CAST(167837696 AS BIGINT), CAST(167903231 AS BIGINT), 'BB'),
               (CAST(171966464 AS BIGINT), CAST(174063615 AS BIGINT), 'CC')
    )
    SELECT country_code, COUNT(*) AS n
    FROM ipl LEFT JOIN dim ON ip >= lo AND ip <= hi
    GROUP BY country_code
    ORDER BY country_code NULLS FIRST
    """,
    "True GeoIP semantics: IPv4 range lookup join (O12; the mmdb file is "
    "a sorted range table). Broadcast non-equi join; counts per country.",
)
def q_ip_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_ip, spark_ranges = _ip_test_frames(spark, sf_dir)
    enriched = ip_range_enrich(with_ip, spark_ranges, ip_col="address")
    return (
        enriched.groupBy("country_code")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("country_code").asc_nulls_first())
    )


@query(
    "q_ip_range_join_bucketed",
    """
    WITH ips AS (
        SELECT event_id,
               '10.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
               CAST(event_id % 256 AS VARCHAR) || '.1' AS address
        FROM events
    ),
    ipl AS (
        SELECT event_id, address,
               10 * 16777216 + (CAST(string_split(address, '.')[2] AS BIGINT) * 65536)
                  + (CAST(string_split(address, '.')[3] AS BIGINT) * 256) + 1 AS ip
        FROM ips
    ),
    dim(lo, hi, country_code) AS (
        VALUES (CAST(167772160 AS BIGINT), CAST(167837695 AS BIGINT), 'AA'),
               (CAST(167837696 AS BIGINT), CAST(167903231 AS BIGINT), 'BB'),
               (CAST(171966464 AS BIGINT), CAST(174063615 AS BIGINT), 'CC')
    )
    SELECT country_code, COUNT(*) AS n
    FROM ipl LEFT JOIN dim ON ip >= lo AND ip <= hi
    GROUP BY country_code
    ORDER BY country_code NULLS FIRST
    """,
    "Same range lookup as q_ip_range_join but planned as an EQUI-join on "
    "/8 prefix buckets with the range test as a residual filter — the "
    "shuffle/hash-join form that scales past broadcast-able dim sizes. "
    "Same oracle; same results.",
)
def q_ip_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    with_ip, spark_ranges = _ip_test_frames(spark, sf_dir)
    enriched = ip_range_enrich_bucketed(with_ip, spark_ranges, ip_col="address")
    return (
        enriched.groupBy("country_code")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("country_code").asc_nulls_first())
    )


@query(
    "q_salted_agg",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 50
    """,
    "Two-phase SALTED aggregation vs the plain GROUP BY oracle: the "
    "oracle is deliberately the unsalted SQL, so the hash-match proves "
    "the salt/re-aggregate rewrite is semantics-preserving. The salted "
    "plan's first shuffle spreads each hot key over 16 reducers; the "
    "second moves 16 rows per key — the explicit fallback when one key "
    "dominates and AQE skew handling is unavailable (e.g. "
    "high-cardinality state per key).",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import salted_agg
    from takuan_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = salted_agg(
        events,
        ["user_id"],
        aggs=lambda: [
            F.count("*").alias("c"),
            F.sum("value").alias("s"),
        ],
        reaggs=lambda: [
            F.sum("c").alias("n_events"),
            F.round(F.sum("s"), 2).alias("total_value"),
        ],
        salt_buckets=16,
    )
    return out.orderBy(F.desc("n_events"), F.asc("user_id")).limit(50)


@query(
    "q_asof_nearest_tolerance",
    """
    WITH errors AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'error'),
         clicks AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'click'),
    b AS (
        SELECT e.event_id, e.user_id, e.ts, c.ts AS bt, c.value AS bv
        FROM errors e ASOF LEFT JOIN clicks c
          ON e.user_id = c.user_id AND e.ts >= c.ts
    ),
    f AS (
        SELECT e.event_id, c.ts AS ft, c.value AS fv
        FROM errors e ASOF LEFT JOIN clicks c
          ON e.user_id = c.user_id AND e.ts <= c.ts
    ),
    picked AS (
        SELECT b.event_id, b.user_id, b.ts,
               CASE WHEN bt IS NULL THEN ft
                    WHEN ft IS NULL THEN bt
                    WHEN epoch_us(b.ts)
                         - epoch_us(bt)
                      <= epoch_us(ft)
                         - epoch_us(b.ts)
                    THEN bt ELSE ft END AS ct,
               CASE WHEN bt IS NULL THEN fv
                    WHEN ft IS NULL THEN bv
                    WHEN epoch_us(b.ts)
                         - epoch_us(bt)
                      <= epoch_us(ft)
                         - epoch_us(b.ts)
                    THEN bv ELSE fv END AS cv
        FROM b JOIN f USING (event_id)
    )
    SELECT event_id, user_id, ts AS err_ts,
           CASE WHEN abs(epoch_us(ct) - epoch_us(ts))
                     <= 1800 * 1000000 THEN ct END AS click_ts,
           CASE WHEN abs(epoch_us(ct) - epoch_us(ts))
                     <= 1800 * 1000000 THEN cv END AS click_value
    FROM picked
    ORDER BY event_id
    """,
    "As-of join, nearest direction with 30-minute tolerance (pandas "
    "merge_asof parity): each error matches the CLOSER of the latest "
    "click before and the earliest click after (tie -> backward), "
    "dropped when farther than the tolerance. Spark side is still ONE "
    "shuffle — both directional windows share the union's hash "
    "partitioning; the oracle composes two DuckDB ASOF joins. "
    "Distances are exact microseconds on both engines.",
)
def q_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return (
        asof_join(
            errors,
            clicks,
            on="user_id",
            left_time="ts",
            right_time="ts",
            right_values={"ts": "click_ts", "value": "click_value"},
            direction="nearest",
            tolerance_secs=1800,
        )
        .withColumnRenamed("ts", "err_ts")
        .orderBy("event_id")
    )


@query(
    "q_window_range_frame",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id
               ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_last_hour,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id
               ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
           ), 2) AS value_last_hour
    FROM events
    ORDER BY event_id
    """,
    "RANGE window frames (value-based, not row-count-based): per event, "
    "the count and value sum of the same user's events in the trailing "
    "hour — a rolling aggregate whose frame is a TIME interval, so ties "
    "and gaps behave correctly where a ROWS frame would not. Ordering "
    "key is the whole-second epoch (timezone-free) on both engines.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from takuan_zoo.operators.timeseries import epoch_secs

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_secs(F.col("ts")))
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("value_last_hour"),
    ).orderBy("event_id")


@query(
    "q_interval_overlap_join",
    f"""
    WITH {_SESSIONS_CTE},
    a AS (SELECT * FROM iv WHERE user_id % 2 = 0),
    b AS (SELECT * FROM iv WHERE user_id % 2 = 1),
    cnt AS (
        SELECT a.user_id, a.s_start, CAST(COUNT(*) AS BIGINT) AS n_overlap
        FROM a JOIN b ON a.s_start <= b.s_end AND b.s_start <= a.s_end
        GROUP BY a.user_id, a.s_start
    )
    SELECT a.user_id,
           strftime(a.s_start, '{_TS_FMT_DDB}') AS session_start,
           strftime(a.s_end, '{_TS_FMT_DDB}') AS session_end,
           COALESCE(cnt.n_overlap, 0) AS n_overlap
    FROM a LEFT JOIN cnt ON a.user_id = cnt.user_id AND a.s_start = cnt.s_start
    ORDER BY a.user_id, session_start
    """,
    "Interval-overlap join (concurrency analysis): even-user sessions "
    "vs odd-user sessions, counting overlapping-in-time pairs per "
    "even-user session. Spark side uses the sweep-line/rank "
    "formulation — n_overlap = #{b_start <= a_end} - #{b_end < "
    "a_start}, two distributed order-statistics joins (bucket-"
    "partitioned running counts + a broadcast bucket-total "
    "cumulative) — because the r11 100x probe proved the previous "
    "bucketed-expansion equi-join superlinear: at a fixed time span, "
    "100x data is 100x intervals per bucket PER SIDE, so candidates "
    "grew density-squared (measured 160x on 100x). The rank form "
    "carries no pair term at all; the oracle is the direct range "
    "join, proving the ranks exact pair-for-pair.",
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.intervals import overlap_counts

    ev = _t(spark, sf_dir, "events")
    iv = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .drop("sw")
    )
    a = iv.where(F.col("user_id") % 2 == 0)
    b = iv.where(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("b_user"),
        F.col("s_start").alias("b_start"),
        F.col("s_end").alias("b_end"),
    )
    out = overlap_counts(
        a,
        b,
        a_keys=["user_id", "s_start"],
        b_keys=["b_user", "b_start"],
        a_start="s_start",
        a_end="s_end",
        bucket_secs=3600,
    )
    return out.select(
        "user_id",
        F.date_format("s_start", _TS_FMT_SPARK).alias("session_start"),
        F.date_format("s_end", _TS_FMT_SPARK).alias("session_end"),
        "n_overlap",
    ).orderBy("user_id", "session_start")


@query(
    "q_sliding_distinct",
    f"""
    WITH expanded AS (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
               user_id
        FROM events
    )
    SELECT strftime(ws, '{_TS_FMT_DDB}') AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM expanded
    GROUP BY ws
    ORDER BY window_start
    """,
    "Windowed COUNT DISTINCT (rolling active users, 2h window / 1h "
    "slide): the exact form of the activity metric whose sketch form "
    "is ns_kmv_distinct — the distinct agg plans partial+final with "
    "(window, user) keys, so the shuffle carries one row per distinct "
    "user per window, never raw events.",
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.countDistinct("user_id").alias("distinct_users"))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "distinct_users",
        )
        .orderBy("window_start")
    )


@query(
    "q_key_skew_profile",
    """
    WITH c AS (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY 1),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS total,
               CAST(MAX(c) AS BIGINT) AS max_c,
               SUM(c * ln(CAST(c AS DOUBLE))) AS sc
        FROM c
    ),
    t AS (
        SELECT CAST(SUM(c) AS BIGINT) AS top_c FROM (
            SELECT c FROM c ORDER BY c DESC, o_custkey LIMIT 10)
    )
    SELECT n_keys, total,
           ROUND(CAST(max_c AS DOUBLE) / total, 6) AS max_share,
           ROUND(CAST(top_c AS DOUBLE) / total, 6) AS topk_share,
           ROUND(CASE WHEN n_keys > 1
                      THEN (ln(CAST(total AS DOUBLE)) - sc / total)
                           / ln(CAST(n_keys AS DOUBLE))
                      ELSE 1.0 END, 6) AS norm_entropy
    FROM s, t
    """,
    "Key-skew diagnostic over orders.o_custkey: key count, max/top-10 "
    "key share, and normalized key-distribution entropy — the inline "
    "measurement that decides between plain shuffle, AQE skew "
    "handling, and explicit salting before a heavy join/agg. One "
    "map-side-combined count per key + scalar aggregates; top-k plans "
    "as TakeOrderedAndProject.",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import key_skew_profile

    orders = _t(spark, sf_dir, "orders")
    return key_skew_profile(orders, key_cols=["o_custkey"], topk=10)


@query(
    "q_rolling_median",
    """
    SELECT event_id, event_type,
           ROUND(quantile_cont(value, 0.5) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 4) AS med50
    FROM events
    WHERE user_id < 5
    ORDER BY event_type, event_id
    """,
    "Exact rolling median (50-row frame) of event values per type — "
    "the order-statistic window q_percentiles cannot express: state is "
    "bounded by the FRAME (50 rows), not the partition, so the window "
    "scales with frame size at any event volume; the unbounded-history "
    "analog is the mergeable histogram sketch (q_quantile_sketch).",
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 5)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percentile("value", F.lit(0.5)).over(w), 4).alias("med50"),
    ).orderBy("event_type", "event_id")


@query(
    "q_ntile_deciles",
    """
    WITH d AS (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM d GROUP BY decile ORDER BY decile
    """,
    "Decile assignment (NTILE) over order value with a unique-key "
    "tiebreak, then per-decile stats — the feature-engineering "
    "bucketing primitive. Spark side runs the DISTRIBUTED exact NTILE "
    "(operators/binning.py global_ntile: range-repartition into "
    "globally ordered blocks, parallel per-block row_number, broadcast "
    "block offsets, closed-form bucket) — the r11 sweep found the "
    "previous ntile().over(Window.orderBy(...)) collapsed the whole "
    "relation into ONE window task, the serial sort this row's 100x "
    "probe made visible; the oracle is the direct single-sort NTILE, "
    "proving the distributed ranks identical row-for-row. The "
    "approximate alternative at reporting scale remains the histogram "
    "sketch's rank interpolation (q_quantile_sketch), which this "
    "query is the exact cross-check for.",
)
def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.binning import global_ntile

    orders = _t(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    d = global_ntile(
        orders, ["o_totalprice", "o_orderkey"], k=10, out_col="decile"
    )
    return (
        d.groupBy(F.col("decile").cast("int").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("decile")
    )


@query(
    "q_corr_regression",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS r,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS cov,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 2)
               AS intercept
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "Bivariate statistical aggregates per return flag: Pearson "
    "correlation, sample covariance, and OLS slope/intercept — all "
    "single-pass partial-aggregable moments (no second scan, no "
    "driver), rounded in both engines to absorb summation-order ulps.",
)
def q_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("r"),
            F.round(
                F.covar_samp("l_quantity", "l_extendedprice"), 2
            ).alias("cov"),
            F.round(
                F.regr_slope("l_extendedprice", "l_quantity"), 4
            ).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 2
            ).alias("intercept"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_scd2_intervals",
    """
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts,
               SUM(chg) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS run_id
        FROM seq
    ),
    iv AS (
        SELECT user_id, event_type, CAST(run_id AS BIGINT) AS run_id,
               MIN(ts) AS valid_from,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM runs GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY run_id) AS valid_to,
           n_events
    FROM iv
    ORDER BY user_id, valid_from, event_type
    """,
    "SCD Type-2 validity intervals from a change stream: consecutive "
    "runs of the same value collapse into (valid_from, valid_to) rows "
    "via gaps-and-islands (lag -> change flag -> cumulative run id), "
    "valid_to = next run's start, NULL while current — the warehouse "
    "dimension-history primitive. All windows are per-user with O(1) "
    "running state; no self-joins.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = seq.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg").over(w).alias("run_id"),
    )
    iv = runs.groupBy(
        "user_id", "event_type", F.col("run_id").cast("bigint").alias("run_id")
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    wr = Window.partitionBy("user_id").orderBy("run_id")
    return iv.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wr).alias("valid_to"),
        "n_events",
    ).orderBy("user_id", "valid_from", "event_type")


@query(
    "q_zorder_locality",
    f"""
    WITH dims AS (
        SELECT CAST(user_id % 256 AS BIGINT) AS a,
               CAST(least(greatest(floor(value / 2.0), 0), 255)
                    AS BIGINT) AS b
        FROM events
    ),
    keyed AS (
        SELECT a, b,
               ((CAST(floor((a) / 1) AS BIGINT) % 2) * 2 + (CAST(floor((b) / 1) AS BIGINT) % 2) * 1 + (CAST(floor((a) / 2) AS BIGINT) % 2) * 8 + (CAST(floor((b) / 2) AS BIGINT) % 2) * 4 + (CAST(floor((a) / 4) AS BIGINT) % 2) * 32 + (CAST(floor((b) / 4) AS BIGINT) % 2) * 16 + (CAST(floor((a) / 8) AS BIGINT) % 2) * 128 + (CAST(floor((b) / 8) AS BIGINT) % 2) * 64 + (CAST(floor((a) / 16) AS BIGINT) % 2) * 512 + (CAST(floor((b) / 16) AS BIGINT) % 2) * 256 + (CAST(floor((a) / 32) AS BIGINT) % 2) * 2048 + (CAST(floor((b) / 32) AS BIGINT) % 2) * 1024 + (CAST(floor((a) / 64) AS BIGINT) % 2) * 8192 + (CAST(floor((b) / 64) AS BIGINT) % 2) * 4096 + (CAST(floor((a) / 128) AS BIGINT) % 2) * 32768 + (CAST(floor((b) / 128) AS BIGINT) % 2) * 16384) AS z
        FROM dims
    )
    SELECT CAST(floor(z / 4096) AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(a) AS BIGINT) AS a_min, CAST(MAX(a) AS BIGINT) AS a_max,
           CAST(MIN(b) AS BIGINT) AS b_min, CAST(MAX(b) AS BIGINT) AS b_max
    FROM keyed
    GROUP BY 1 ORDER BY 1
    """,
    "Z-order (Morton) layout key over (user_id bucket, value bucket) "
    "with the locality it buys made visible: each top-4-bit key range "
    "confines BOTH dimensions to a 64-wide band (vs 256 global), which "
    "is exactly why sorting 100 TB by this one key lets parquet "
    "min/max statistics prune scans filtered on EITHER column — the "
    "OPTIMIZE ZORDER primitive as a pure codegen'd integer expression.",
)
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.layout import zorder_key2

    ev = _t(spark, sf_dir, "events")
    a = (F.col("user_id") % 256).cast("bigint")
    b = (
        F.least(F.greatest(F.floor(F.col("value") / 2.0), F.lit(0)), F.lit(255))
        .cast("bigint")
    )
    keyed = ev.select(a.alias("a"), b.alias("b")).select(
        "a", "b", zorder_key2(F.col("a"), F.col("b"), bits=8).alias("z")
    )
    return (
        keyed.groupBy(
            F.floor(F.col("z") / 4096).cast("bigint").alias("zbucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("a").cast("bigint").alias("a_min"),
            F.max("a").cast("bigint").alias("a_max"),
            F.min("b").cast("bigint").alias("b_min"),
            F.max("b").cast("bigint").alias("b_max"),
        )
        .orderBy("zbucket")
    )


@query(
    "q_salted_join",
    """
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY s.s_name
    """,
    "Salted equi-join (probe-side salt, build-side 8x replication) "
    "rolled up per supplier — the skew fallback for when one key "
    "floods a join partition and AQE skew-split is unavailable. The "
    "oracle is the PLAIN join SQL: a hash match proves the salting "
    "rewrite is semantics-preserving (same contract as q_salted_agg).",
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    j = salted_join(li, sup, "l_suppkey", salt_buckets=8)
    return (
        j.groupBy("s_name")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("s_name")
    )


@query(
    "q_variant_extract",
    """
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k
    FROM (
        SELECT event_type,
               TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
    "Semi-structured aggregation through Spark's native VARIANT type "
    "(SQL:2023 / Spark 4): the JSON props column is parsed ONCE per "
    "row into VARIANT's binary encoding (try_parse_json), then "
    "try_variant_get extracts the typed field — vs "
    "takuan_json_extract's get_json_object, which re-parses the "
    "string per access. At 100 TB of sparse event metadata the "
    "parse-once binary path is the production shape (repeated field "
    "access and shredding amortize), and the try_ variants degrade "
    "malformed rows to NULL instead of failing the batch — the "
    "quarantine-friendly contract. Green against DuckDB's "
    "json_extract oracle proves the VARIANT path is value-identical "
    "to string-path extraction (the oracle uses TRY_CAST so a "
    "malformed or non-integer k degrades to NULL on BOTH sides, "
    "matching try_variant_get, instead of hard-erroring DuckDB).",
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.try_variant_get(
            F.try_parse_json("props"), "$.k", "bigint"
        ).alias("k"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    )


_RCTE_EDGES_SQL = """
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM {cust} c
    JOIN {ords} o ON o.o_custkey = c.c_custkey
    JOIN {li} l ON l.l_orderkey = o.o_orderkey
    JOIN {sup} s ON s.s_suppkey = l.l_suppkey
"""

_RCTE_SQL = """
WITH RECURSIVE reach(node, hop) AS (
    SELECT CAST(0 AS INT) AS node, CAST(0 AS INT) AS hop
    UNION ALL
    SELECT DISTINCT e.dst, CAST(r.hop + 1 AS INT)
    FROM reach r JOIN {edges} e ON e.src = r.node
    WHERE r.hop < 4
)
SELECT n.n_name, CAST(MIN(r.hop) AS BIGINT) AS hops
FROM reach r JOIN {nat} n ON n.n_nationkey = r.node
GROUP BY n.n_name
ORDER BY n.n_name
"""


@query(
    "q_recursive_cte",
    _RCTE_SQL.format(
        edges="("
        + _RCTE_EDGES_SQL.format(
            cust="customer", ords="orders", li="lineitem", sup="supplier"
        )
        + ")",
        nat="nation",
    ),
    "Recursive CTE (WITH RECURSIVE, SQL:1999 — new in Spark 4) as "
    "iterative graph reachability over DATA-DERIVED edges: the "
    "nation-level trade graph (customer nation -> supplier nation, "
    "distinct pairs from the customer-orders-lineitem-supplier join "
    "chain), BFS from nation 0 with per-level DISTINCT and a hop "
    "bound, MIN(hop) per reached nation. The recursion is scale-sane "
    "by construction: the working table is capped at distinct "
    "(node, hop) pairs <= nations x hops regardless of corpus size — "
    "the heavy lifting (the 4-way edge derivation over the fact "
    "table) is MATERIALIZED once before the recursion (Spark's "
    "recursive execution re-evaluates referenced relations per "
    "level, so an uncached edge set re-ran the fact join every hop: "
    "5.5 -> 2.8 s at sf0.1), and every per-level join is against "
    "that tiny persisted edge set. The same SQL shape runs on both "
    "engines (standard working-table semantics; the hop bound "
    "terminates both), so a green row certifies Spark's recursive "
    "execution, not a hand-rolled loop.",
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import materialize

    views = {}
    for key, tbl in (
        ("cust", "customer"), ("ords", "orders"),
        ("li", "lineitem"), ("sup", "supplier"),
    ):
        name = f"rcte_{tbl}"
        load_table(spark, sf_dir, tbl).createOrReplaceTempView(name)
        views[key] = name
    edges = materialize(spark.sql(_RCTE_EDGES_SQL.format(**views)))
    edges.createOrReplaceTempView("rcte_edges")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "rcte_nation"
    )
    return spark.sql(
        _RCTE_SQL.format(edges="rcte_edges", nat="rcte_nation")
    )


@query(
    "q_sql_pipe_syntax",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "SQL pipe syntax (|> operators, Spark 4 / ISO pending): the "
    "pricing-summary aggregation written as a linear FROM |> WHERE "
    "|> AGGREGATE |> ORDER BY pipeline — each stage consumes the "
    "previous one top-to-bottom, the shape analytics users "
    "increasingly write instead of inside-out nested SELECTs. The "
    "pipe form must plan to the SAME filtered partial+final "
    "aggregate as the classic form (Catalyst normalizes both to one "
    "logical plan), and the ANSI oracle is the classic form — a "
    "green row certifies the parser surface is semantics-identical, "
    "not a dialect fork.",
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pipe_lineitem"
    )
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_rows,
                     ROUND(SUM(l_quantity), 2) AS sum_qty,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                         AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_rows, sum_qty, revenue
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


_SCRIPTING_SQL = """
BEGIN
  DECLARE mx DOUBLE DEFAULT 0;
  DECLARE cap DOUBLE DEFAULT 1;
  SET mx = (SELECT MAX(l_quantity) FROM script_lineitem);
  WHILE cap < mx DO
    SET cap = cap * 2;
  END WHILE;
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         cap AS qty_cap
  FROM script_lineitem
  WHERE l_quantity <= cap / 2
  GROUP BY l_returnflag
  ORDER BY l_returnflag;
END
"""

_BINDING_BODY = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       {cap_expr} AS qty_cap
FROM script_lineitem
WHERE l_quantity <= {cap_expr} / 2
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query(
    "q_sql_scripting",
    """
    WITH cap AS (
      -- GREATEST(1, ...) pins the closed form to the WHILE loop's
      -- fixpoint when MAX <= 1 (cap starts at 1 and never shrinks);
      -- without it the formula would yield POWER(2, CEIL(LOG2(0.5)))
      -- = 0.5 while the loop yields 1 — safe for TPC-H l_quantity
      -- (max 50) but silently data-dependent if the generator changes.
      SELECT GREATEST(1, POWER(2, CEIL(LOG2(MAX(l_quantity))))) AS c
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c AS qty_cap
    FROM lineitem, cap
    WHERE l_quantity <= c / 2
    GROUP BY l_returnflag, c
    ORDER BY l_returnflag
    """,
    "SQL SCRIPTING (BEGIN/END, Spark 4) plus the two other parameter-"
    "binding surfaces, certified equivalent in one row: a script "
    "DECLAREs locals, folds MAX(l_quantity) into one scan, doubles "
    "`cap` in a WHILE loop to the enclosing power of two, and "
    "aggregates revenue under the derived threshold; the SAME "
    "aggregate is then run with (a) a SESSION VARIABLE (DECLARE "
    "VARIABLE + SET VAR from a scalar subquery) and (b) a named "
    "PARAMETER MARKER (spark.sql args=...), and all three must agree "
    "row-for-row before the row returns — any divergence raises "
    "instead of letting one surface drift. The oracle derives the "
    "loop's fixpoint in closed form (GREATEST(1, POWER(2, "
    "CEIL(LOG2(max)))) — the floor matches the loop's cap=1 start), "
    "which is also the scale note: script control flow is driver-side "
    "plan orchestration (each iteration here is pure local-variable "
    "arithmetic, the one data job is the single MAX scan), so the "
    "loop costs O(log2 max) driver steps and exactly two table scans "
    "end-to-end at any data size.",
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "script_lineitem"
    )
    prev = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        # three rows (one per returnflag) — dim-sized by the flag domain
        script_rows = [tuple(r) for r in spark.sql(_SCRIPTING_SQL).collect()]
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prev)
    if not script_rows:
        raise RuntimeError("script returned no rows; lineitem is empty")
    spark.sql("DECLARE OR REPLACE VARIABLE qcap DOUBLE")
    spark.sql(
        "SET VAR qcap = (SELECT GREATEST(1, "
        "POWER(2, CEIL(LOG2(MAX(l_quantity))))) FROM script_lineitem)"
    )
    sv_rows = [
        tuple(r)
        for r in spark.sql(_BINDING_BODY.format(cap_expr="qcap")).collect()
    ]
    cap = float(script_rows[0][3])
    pv_rows = [
        tuple(r)
        for r in spark.sql(
            _BINDING_BODY.format(cap_expr="CAST(:cap AS DOUBLE)"),
            args={"cap": cap},
        ).collect()
    ]
    if not (script_rows == sv_rows == pv_rows):
        raise RuntimeError(
            "binding surfaces disagree: "
            f"script={script_rows} session_var={sv_rows} param={pv_rows}"
        )
    return spark.createDataFrame(
        script_rows,
        "l_returnflag string, n_rows bigint, revenue double, "
        "qty_cap double",
    ).orderBy("l_returnflag")
