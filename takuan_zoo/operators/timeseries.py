"""Time-series operators: bucketing, gap-filling, interpolation, rollups.

The reference aggregates "everything unreported so far" and has no
time-bucket semantics at all; these operators add the hypertable-style
surface a time-series workload needs (TimescaleDB's ``time_bucket`` /
``time_bucket_gapfill`` / ``locf`` / ``interpolate`` family, re-expressed
as pure DataFrame plans — no UDFs, no driver loops).

Scale notes (100 TB):

- Bucketing is a narrow projection (epoch floor-divide) — it rides the
  scan and the downstream aggregate is an ordinary partial+final hash
  agg on (group, bucket).
- The gap-fill spine is generated DISTRIBUTED: per-group (min, max)
  bounds (one tiny agg row per group) are exploded with ``sequence()``
  executor-side — no driver-side range materialization. Spine size is
  bounded by (groups x time-range / interval), i.e. by the *series*
  size, not the event count.
- LOCF/interpolation are ignore-nulls window functions partitioned by
  group: one shuffle of the (already aggregated) series, never of raw
  events. A series with few groups serializes per group — inherent to
  the semantics (carry-forward is a sequential scan of the series), and
  bounded by buckets-per-group, not rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def epoch_secs(ts: Column | str) -> Column:
    """Seconds since 1970-01-01 of a naive (NTZ) timestamp, computed
    from calendar fields — NEVER via ``unix_timestamp``, which would
    route through the session timezone and shift bucket boundaries when
    the consuming session is not UTC. DuckDB: ``CAST(epoch(ts) AS
    BIGINT)`` (naive timestamps are epoch'd as-is there)."""
    col = F.col(ts) if isinstance(ts, str) else ts
    days = F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date"))
    sod = F.hour(col) * 3600 + F.minute(col) * 60 + F.second(col)
    return days.cast("bigint") * 86400 + sod.cast("bigint")


def epoch_micros(ts: Column | str) -> Column:
    """Microseconds since 1970-01-01 of a naive timestamp, timezone-free
    (calendar fields; EXTRACT(SECOND) carries the fractional part as an
    exact decimal). DuckDB: ``epoch_us(ts)``."""
    col = F.col(ts) if isinstance(ts, str) else ts
    days = F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date"))
    whole = (
        days.cast("bigint") * 86400
        + F.hour(col).cast("bigint") * 3600
        + F.minute(col).cast("bigint") * 60
    )
    # date_part('SECOND') returns DECIMAL(8,6) seconds incl. micros
    secs = F.call_function("date_part", F.lit("SECOND"), col)
    return whole * F.lit(1_000_000) + (secs * F.lit(1_000_000)).cast("bigint")


def time_bucket(ts: Column | str, interval_secs: int) -> Column:
    """Floor ``ts`` to an ``interval_secs``-wide bucket (epoch-aligned,
    timezone-naive). Pure field arithmetic: midnight of the date plus
    the floored second-of-day (sub-day intervals must divide 86400), or
    a floored epoch-day for whole-day multiples — no session-timezone
    dependence either way. Equivalent DuckDB:
    ``ts - to_seconds(CAST(epoch(ts) AS BIGINT) % N)``."""
    col = F.col(ts) if isinstance(ts, str) else ts
    midnight = col.cast("date").cast("timestamp_ntz")
    if interval_secs < 86400:
        if 86400 % interval_secs != 0:
            raise ValueError(
                f"sub-day interval {interval_secs}s must divide 86400"
            )
        sod = F.hour(col) * 3600 + F.minute(col) * 60 + F.second(col)
        floored = (sod / interval_secs).cast("bigint") * interval_secs
        return F.timestamp_add("SECOND", floored, midnight)
    if interval_secs % 86400 != 0:
        raise ValueError(
            f"multi-day interval {interval_secs}s must be a whole-day multiple"
        )
    days = interval_secs // 86400
    epoch_day = F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date"))
    # floor, not cast-truncation: truncation rounds toward zero, which
    # would bucket pre-1970 timestamps to the interval AFTER them
    floored_day = F.floor(epoch_day / days).cast("bigint") * days
    return F.timestamp_add(
        "DAY", floored_day, F.lit("1970-01-01").cast("timestamp_ntz")
    )


def bucket_aggregate(
    df: DataFrame,
    *,
    ts_col: str,
    interval_secs: int,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Downsample: one row per (group, bucket) with the given aggregates.
    Plain partial+final hash aggregation — the bucket column is a narrow
    projection, so filters/pruning still reach the scan."""
    return (
        df.withColumn("bucket", time_bucket(ts_col, interval_secs))
        .groupBy(*group_cols, "bucket")
        .agg(*aggs)
    )


def gap_fill(
    series: DataFrame,
    *,
    group_cols: Sequence[str],
    interval_secs: int,
    value_col: str,
    bucket_col: str = "bucket",
    locf_col: str | None = "locf_value",
    interp_col: str | None = "interp_value",
) -> DataFrame:
    """Densify a bucketed series and fill the holes.

    Emits one row per (group, bucket) for EVERY bucket between each
    group's first and last observed bucket. ``value_col`` stays null on
    gap rows; ``locf_col`` carries the last observation forward;
    ``interp_col`` linearly interpolates between the surrounding
    observations (null before the first / after the last observation,
    matching TimescaleDB ``interpolate``).

    The spine never touches the driver: per-group bounds explode
    executor-side via ``sequence``. Fill columns are ignore-nulls
    windows over the filled series.

    ``series`` feeds BOTH the bounds aggregate and the spine join;
    Catalyst does not reuse a subplan across branches, so an
    unmaterialized series would scan the raw events twice — it is
    persisted here (it is already aggregated, i.e. series-sized).
    """
    from takuan_zoo.operators.skew import materialize

    groups = list(group_cols)
    series = materialize(series)
    bounds = series.groupBy(*groups).agg(
        F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi")
    )
    spine = bounds.select(
        *groups,
        F.explode(
            F.sequence(
                "_lo", "_hi", F.expr(f"interval {interval_secs} seconds")
            )
        ).alias(bucket_col),
    )
    filled = spine.join(series, [*groups, bucket_col], "left")

    w_back = (
        Window.partitionBy(*groups)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*groups)
        .orderBy(bucket_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    if locf_col is not None:
        filled = filled.withColumn(
            locf_col, F.last(value_col, ignorenulls=True).over(w_back)
        )
    if interp_col is not None:
        obs_t = F.when(v.isNotNull(), epoch_secs(bucket_col))
        prev_v = F.last(value_col, ignorenulls=True).over(w_back)
        prev_t = F.last(obs_t, ignorenulls=True).over(w_back)
        next_v = F.first(value_col, ignorenulls=True).over(w_fwd)
        next_t = F.first(obs_t, ignorenulls=True).over(w_fwd)
        t = epoch_secs(bucket_col)
        interp = F.when(v.isNotNull(), v).otherwise(
            prev_v
            + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
        )
        filled = filled.withColumn(interp_col, interp)
    return filled


def rollup_merge(
    df: DataFrame,
    *,
    ts_col: str,
    cutoff: str,
    coarse_secs: int,
    fine_secs: int,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Hypertable-style continuous-aggregate read: history (before
    ``cutoff``) at the coarse resolution, the recent tail at the fine
    resolution, unioned into one series tagged by ``resolution_secs``.

    This is the READ SHAPE of a continuous aggregate: in production the
    coarse branch is a pre-materialized rollup table (written by
    ``sinks.writers``, partitioned by bucket date) and only the tail is
    aggregated from raw events — the plan here computes both branches
    from raw so the semantics are self-contained and oracle-checkable.
    Each branch's time filter is pushed to the scan, so the raw-event
    scan of the coarse branch disappears once the rollup is persisted.
    """
    cut = F.lit(cutoff).cast("timestamp_ntz")
    coarse = bucket_aggregate(
        df.where(F.col(ts_col) < cut),
        ts_col=ts_col,
        interval_secs=coarse_secs,
        group_cols=group_cols,
        aggs=aggs,
    ).withColumn("resolution_secs", F.lit(coarse_secs))
    fine = bucket_aggregate(
        df.where(F.col(ts_col) >= cut),
        ts_col=ts_col,
        interval_secs=fine_secs,
        group_cols=group_cols,
        aggs=aggs,
    ).withColumn("resolution_secs", F.lit(fine_secs))
    return coarse.unionByName(fine)


def mean_shift_changepoints(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str = "value",
    window: int = 8,
    z_threshold: float = 2.0,
    quantum: float = 0.01,
) -> DataFrame:
    """Level-shift changepoints per series: points where the mean of
    the ``window`` FOLLOWING values (current row included) departs
    from the mean of the ``window`` PRECEDING values by more than
    ``z_threshold`` series standard deviations. The two-sided-window
    form of changepoint detection — unlike CUSUM it has no running
    recursion, so it is ONE window pass in any engine (and stays a
    projection at 100 TB: both frames are ROWS-bounded, state is
    O(window) per series, no self-join, no global sort).

    Both frames require full history on each side (exactly ``window``
    rows), so the first/last ``window`` points of a series never fire
    — a changepoint needs evidence on both sides by definition.

    Cross-engine exactness: values quantize to integer multiples of
    ``quantum`` (floor(v/quantum + 0.5) — lossless when the data has
    no finer precision, as with 2dp metrics), and every statistic
    derives from EXACT BIGINT sums of those units: frame means are
    integer-sum-over-n, the series stddev comes from the integer
    moments sqrt((n*S2 - S1^2)/(n*(n-1))), and the z comparison runs
    on doubles built from identical integers. Float window aggregates
    (stddev_samp / AVG over frames) associate differently per engine
    (streaming vs segment-tree summation), so a point whose z lands
    within ~1e-9 of the threshold would otherwise fire in one engine
    and not the other — the linkage-score micro-unit discipline,
    applied to windows.

    Output: (key, ts, value, mean_before, mean_after, shift_z) for
    firing points, shift_z = |after - before| / series stddev.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    before = w.rowsBetween(-window, -1)
    after = w.rowsBetween(0, window - 1)
    whole = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = F.floor(F.col(value_col) / F.lit(quantum) + F.lit(0.5)).cast(
        "long"
    )
    quantized = events.select(
        key_col, ts_col, order_tiebreak, value_col, c.alias("_c")
    )
    scored = quantized.select(
        key_col,
        ts_col,
        order_tiebreak,
        value_col,
        F.sum("_c").over(before).alias("_sb"),
        F.count(F.lit(1)).over(before).alias("_nb"),
        F.sum("_c").over(after).alias("_sa"),
        F.count(F.lit(1)).over(after).alias("_na"),
        F.sum("_c").over(whole).alias("_s1"),
        F.sum(F.col("_c") * F.col("_c")).over(whole).alias("_s2"),
        F.count(F.lit(1)).over(whole).alias("_n"),
    )
    # integer variance numerator: > 0 iff the series is non-constant
    var_num = F.col("_n") * F.col("_s2") - F.col("_s1") * F.col("_s1")
    sd_c = F.sqrt(
        var_num.cast("double")
        / (F.col("_n") * (F.col("_n") - 1)).cast("double")
    )
    shift_c = F.abs(F.col("_sa") - F.col("_sb")).cast("double") / F.lit(
        float(window)
    )
    shift_z = shift_c / sd_c
    q = F.lit(quantum)
    return (
        scored.where(
            (F.col("_nb") == window)
            & (F.col("_na") == window)
            & (var_num > 0)
            & (shift_z > z_threshold)
        )
        .select(
            key_col,
            ts_col,
            value_col,
            F.round(
                F.col("_sb").cast("double") * q / window, 6
            ).alias("mean_before"),
            F.round(
                F.col("_sa").cast("double") * q / window, 6
            ).alias("mean_after"),
            F.round(shift_z, 6).alias("shift_z"),
        )
    )
