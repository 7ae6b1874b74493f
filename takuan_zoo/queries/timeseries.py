"""Time-series queries: gap-filled downsampling with LOCF + linear
interpolation, and the hypertable-style two-resolution rollup merge.

The bucket arithmetic is deliberately timezone-free on BOTH sides
(calendar-field floor in Spark, naive-epoch floor in DuckDB) so the
results are identical whatever timezone the consuming sessions run in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import timeseries as tsops
from takuan_zoo.queries import query

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DDB = "%Y-%m-%d %H:%M:%S"


@query(
    "q_gap_fill_interpolate",
    f"""
    WITH b AS (
        SELECT event_type,
               date_trunc('second', ts) - to_seconds(
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) % 900) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(AVG(value), 6) AS avg_value
        FROM events
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT event_type,
               UNNEST(generate_series(MIN(bucket), MAX(bucket),
                                      INTERVAL 900 SECONDS)) AS bucket
        FROM b GROUP BY event_type
    ),
    filled AS (
        SELECT s.event_type, s.bucket,
               COALESCE(b.n_events, 0) AS n_events, b.avg_value
        FROM spine s LEFT JOIN b USING (event_type, bucket)
    ),
    f AS (
        SELECT event_type, bucket, n_events, avg_value,
               LAST_VALUE(avg_value IGNORE NULLS) OVER w_back AS locf_value,
               LAST_VALUE(avg_value IGNORE NULLS) OVER w_back AS pv,
               LAST_VALUE(CASE WHEN avg_value IS NOT NULL
                               THEN CAST(epoch(bucket) AS BIGINT) END
                          IGNORE NULLS) OVER w_back AS pt,
               FIRST_VALUE(avg_value IGNORE NULLS) OVER w_fwd AS nv,
               FIRST_VALUE(CASE WHEN avg_value IS NOT NULL
                                THEN CAST(epoch(bucket) AS BIGINT) END
                           IGNORE NULLS) OVER w_fwd AS nt
        FROM filled
        WINDOW
            w_back AS (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            w_fwd AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           strftime(bucket, '{_TS_FMT_DDB}') AS bucket,
           n_events,
           avg_value,
           ROUND(locf_value, 6) AS locf_value,
           -- floored integer micro-units, NOT round(double, n): both
           -- engines hold bit-identical doubles here, and floor is the
           -- one decimal projection they agree on at every boundary
           CAST(floor(1000000 * CASE
                      WHEN avg_value IS NOT NULL THEN avg_value
                      ELSE pv + (nv - pv) * (CAST(epoch(bucket) AS BIGINT) - pt)
                                / (nt - pt)
                 END) AS BIGINT) AS interp_value_e6
    FROM f
    ORDER BY event_type, bucket
    """,
    "Gap-filled 15-minute downsample of the events stream per type: a "
    "dense bucket spine (generated executor-side via sequence explode, "
    "never on the driver), left-joined aggregates, then LOCF "
    "carry-forward and linear interpolation as ignore-nulls windows "
    "over the filled series — the TimescaleDB time_bucket_gapfill / "
    "locf / interpolate family as one shuffle-of-the-series plan.",
)
def q_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    series = tsops.bucket_aggregate(
        ev,
        ts_col="ts",
        interval_secs=900,
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        ],
    )
    filled = tsops.gap_fill(
        series,
        group_cols=["event_type"],
        interval_secs=900,
        value_col="avg_value",
    )
    return filled.select(
        "event_type",
        F.date_format("bucket", _TS_FMT_SPARK).alias("bucket"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        "avg_value",
        F.round("locf_value", 6).alias("locf_value"),
        F.floor(F.lit(1000000) * F.col("interp_value"))
        .cast("bigint")
        .alias("interp_value_e6"),
    ).orderBy("event_type", "bucket")


@query(
    "q_hypertable_rollup",
    f"""
    WITH coarse AS (
        SELECT event_type,
               date_trunc('second', ts) - to_seconds(
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) % 86400) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value,
               86400 AS resolution_secs
        FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00'
        GROUP BY 1, 2
    ),
    fine AS (
        SELECT event_type,
               date_trunc('second', ts) - to_seconds(
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) % 3600) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value,
               3600 AS resolution_secs
        FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
        GROUP BY 1, 2
    )
    SELECT event_type, strftime(bucket, '{_TS_FMT_DDB}') AS bucket,
           n_events, sum_value, CAST(resolution_secs AS INT) AS resolution_secs
    FROM (SELECT * FROM coarse UNION ALL SELECT * FROM fine)
    ORDER BY event_type, bucket, resolution_secs
    """,
    "Hypertable continuous-aggregate read shape: daily rollup for "
    "history, hourly for the tail past the cutoff, one unioned series "
    "tagged with its resolution. Each branch's time filter pushes to "
    "the scan; with the coarse branch persisted by the rollup writer "
    "only the tail ever reads raw events.",
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    merged = tsops.rollup_merge(
        ev,
        ts_col="ts",
        cutoff="2024-01-24 00:00:00",
        coarse_secs=86400,
        fine_secs=3600,
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )
    return merged.select(
        "event_type",
        F.date_format("bucket", _TS_FMT_SPARK).alias("bucket"),
        "n_events",
        "sum_value",
        F.col("resolution_secs").cast("int").alias("resolution_secs"),
    ).orderBy("event_type", "bucket", "resolution_secs")


#: EWMA tap weights 0.7^k, k = 1..12, embedded as IDENTICAL decimal
#: literals in the Spark plan and the oracle SQL (power() could differ
#: in the last ulp between engines; a shared literal cannot).
_EWMA_W = [repr(0.7**k) for k in range(1, 13)]

_EWMA_NUM_SQL = " + ".join(
    f"{w} * COALESCE(lag(value, {k}) OVER w, 0)"
    for k, w in enumerate(_EWMA_W, start=1)
)
_EWMA_DEN_SQL = " + ".join(
    f"{w} * (CASE WHEN lag(value, {k}) OVER w IS NULL THEN 0 ELSE 1 END)"
    for k, w in enumerate(_EWMA_W, start=1)
)


@query(
    "q_ewma_anomaly",
    f"""
    WITH scored AS (
        SELECT user_id, ts, event_id, value,
               ({_EWMA_NUM_SQL}) AS num,
               ({_EWMA_DEN_SQL}) AS den,
               stddev_samp(value) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS sig,
               COUNT(*) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING) AS n_hist
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts, value,
           ROUND(num / den, 6) AS pred,
           ROUND(abs(value - num / den) / sig, 6) AS zscore
    FROM scored
    WHERE n_hist >= 6 AND sig > 0
      AND abs(value - num / den) > 3 * sig
    ORDER BY user_id, ts, event_id
    """,
    "EWMA control chart per user series: the prediction is a 12-tap "
    "exponentially-weighted mean of PRIOR values (weights are shared "
    "decimal literals, so both engines compute bit-identical sums), "
    "the band is 3 trailing standard deviations, and only breaches "
    "with >= 6 points of history fire. One window pass, O(taps) state "
    "per row — the telemetry/fraud anomaly gate that runs as a plain "
    "projection at 100 TB (no self-join, no global sort).",
)
def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for k, wl in enumerate(_EWMA_W, start=1):
        lagv = F.lag("value", k).over(w)
        t_num = F.lit(float(wl)) * F.coalesce(lagv, F.lit(0.0))
        t_den = F.lit(float(wl)) * F.when(lagv.isNull(), 0.0).otherwise(1.0)
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    hist = w.rowsBetween(-12, -1)
    sig = F.stddev_samp("value").over(hist)
    # COUNT(*) over the frame (not count of non-null value): the >= 6
    # history gate must count ROWS exactly as the oracle's COUNT(*)
    # does, or a NULL value in the frame diverges the two engines.
    n_hist = F.count(F.lit(1)).over(hist)
    scored = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        num.alias("num"),
        den.alias("den"),
        sig.alias("sig"),
        n_hist.alias("n_hist"),
    )
    return (
        scored.where(
            (F.col("n_hist") >= 6)
            & (F.col("sig") > 0)
            & (F.abs(F.col("value") - F.col("num") / F.col("den"))
               > 3 * F.col("sig"))
        )
        # event_id tiebreak: same-timestamp anomalies must present in
        # the same order in both engines
        .orderBy("user_id", "ts", "event_id")
        .select(
            "user_id",
            "ts",
            "value",
            F.round(F.col("num") / F.col("den"), 6).alias("pred"),
            F.round(
                F.abs(F.col("value") - F.col("num") / F.col("den"))
                / F.col("sig"),
                6,
            ).alias("zscore"),
        )
    )


@query(
    "q_mean_shift_changepoint",
    """
    WITH qz AS (
        SELECT user_id, ts, event_id, value,
               CAST(FLOOR(value / 0.01 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    scored AS (
        SELECT user_id, ts, event_id, value,
               SUM(c) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS sb,
               COUNT(*) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS nb,
               SUM(c) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sa,
               COUNT(*) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS na,
               SUM(c) OVER (PARTITION BY user_id) AS s1,
               SUM(c * c) OVER (PARTITION BY user_id) AS s2,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM qz
    )
    SELECT user_id, ts, value,
           ROUND(CAST(sb AS DOUBLE) * 0.01 / 8, 6) AS mean_before,
           ROUND(CAST(sa AS DOUBLE) * 0.01 / 8, 6) AS mean_after,
           ROUND((CAST(ABS(sa - sb) AS DOUBLE) / 8.0)
                 / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                        / CAST(n * (n - 1) AS DOUBLE)), 6) AS shift_z
    FROM scored
    WHERE nb = 8 AND na = 8 AND n * s2 - s1 * s1 > 0
      AND (CAST(ABS(sa - sb) AS DOUBLE) / 8.0)
          / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
                 / CAST(n * (n - 1) AS DOUBLE)) > 1.0
    ORDER BY user_id, ts, event_id
    """,
    "Level-shift changepoint detection per user series: fire where "
    "the mean of the 8 following values departs from the mean of the "
    "8 preceding values by > 1 series standard deviation. The "
    "two-sided-window form — unlike CUSUM there is no running "
    "recursion, so it is ONE window pass with O(window) state per "
    "series in any engine: a projection at 100 TB, no self-join, no "
    "global sort. Series edges never fire (a changepoint needs full "
    "evidence on both sides). All statistics derive from exact "
    "bigint sums of 0.01-quantized values (lossless on this 2dp "
    "metric): float window aggregates associate differently per "
    "engine (streaming vs segment-tree summation), and a z landing "
    "within ~1e-9 of the threshold would fire on one side only — "
    "the micro-unit discipline applied to windows.",
)
def q_mean_shift_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tsops.mean_shift_changepoints(
        ev, window=8, z_threshold=1.0
    ).orderBy("user_id", "ts", "event_id")


@query(
    "q_interarrival_stats",
    """
    WITH gaps AS (
        SELECT user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               - CAST(epoch(date_trunc('second',
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)))
                      AS BIGINT) AS gap
        FROM events
        QUALIFY gap IS NOT NULL
    )
    ,
    sums AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(gap) AS BIGINT) AS sx,
               CAST(SUM(gap * gap) AS BIGINT) AS sxx,
               CAST(MAX(gap) AS BIGINT) AS mx
        FROM gaps GROUP BY user_id HAVING COUNT(*) >= 2
    )
    SELECT user_id,
           n AS n_gaps,
           ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_gap_secs,
           mx AS max_gap_secs,
           ROUND(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                 / (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gap_cv
    FROM sums
    ORDER BY user_id
    """,
    "Inter-arrival burstiness per user: gap count, mean/max gap and "
    "the coefficient of variation (CV ~1 is Poisson-like traffic, "
    ">> 1 is bursty — the signal rate-limiters and bot detectors key "
    "on). One lag window per user partition then a per-user aggregate "
    "— O(1) state per row, no self-join. Gaps are integer seconds, so "
    "the aggregation carries EXACT bigint sums (sum, sum of squares — "
    "order-independent) and the variance is the identical closed-form "
    "scalar expression in both engines: streaming stddev_samp "
    "implementations differ at ~1e-6 between engines and fail the "
    "6dp handoff.",
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ).alias("gap")
    gaps = ev.select("user_id", gap).where(F.col("gap").isNotNull())
    sums = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("gap").cast("bigint").alias("sx"),
            F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sxx"),
            F.max("gap").cast("bigint").alias("mx"),
        )
        .where(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    var = (nd * sxxd - sxd * sxd) / (nd * (nd - F.lit(1.0)))
    return sums.select(
        "user_id",
        F.col("n").alias("n_gaps"),
        F.round(sxd / F.col("n"), 6).alias("mean_gap_secs"),
        F.col("mx").alias("max_gap_secs"),
        F.round(F.sqrt(var) / (sxd / nd), 6).alias("gap_cv"),
    ).orderBy("user_id")


@query(
    "q_seasonality_profile",
    """
    WITH hourly AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS total
        FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hour, h.n_events,
           ROUND(h.n_events * 1.0 / t.total, 6) AS hour_share,
           ROUND(h.n_events * 24.0 / t.total, 4) AS lift_vs_uniform
    FROM hourly h JOIN tot t USING (event_type)
    ORDER BY h.event_type, h.hour
    """,
    "Diurnal seasonality profile: per (event_type, hour-of-day) event "
    "count, share of the type's volume, and lift vs a uniform 24-hour "
    "baseline — the seasonal-naive decomposition read before tuning "
    "windowed alert thresholds. Two combiner-friendly aggregations "
    "(the second over the 24-row-per-type grid); ratios derive from "
    "exact integer counts so the doubles round identically in both "
    "engines.",
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    total = F.sum("n_events").over(
        Window.partitionBy("event_type")
    )
    return hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.round(F.col("n_events") * 1.0 / total, 6).alias("hour_share"),
        F.round(F.col("n_events") * 24.0 / total, 4).alias(
            "lift_vs_uniform"
        ),
    ).orderBy("event_type", "hour")
