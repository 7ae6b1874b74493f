"""As-of (point-in-time) join — an operator Spark lacks natively.

Reference scope note: evilsocket/takuan has no as-of join (its only
joins are broadcast enrichments, core/aggregator.go:62-66); this is a
north-star extension for time-series/training-data pipelines (e.g.
"state of X as of event time T").

Implementation is the union-tag pattern, which is how you'd run it on
100 TB:

1. tag right rows 0 / left rows 1 and ``unionByName`` them;
2. one hash shuffle on the join key partitions both sides together;
3. within each partition, a window sorted by (time, side) computes a
   running ``last(right_payload, ignorenulls=True)`` — each left row
   sees exactly the latest right row at-or-before it (backward) or the
   earliest at-or-after (forward).

Cost: ONE shuffle of left+right (same as a plain sort-merge join), no
range-explosion, no per-row lookups, and skew behaves like any keyed
window. Equal timestamps: right sorts before left, so a right row at
exactly the left time matches; ties among right rows resolve to the
largest payload struct (deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_time: str,
    right_time: str,
    right_values: dict[str, str],
    direction: str = "backward",
    tolerance_secs: int | None = None,
) -> DataFrame:
    """Point-in-time join: every left row + the matching right row's
    values (null when no right row qualifies — left-outer semantics).

    ``right_values`` maps right-side column -> output name (output names
    must not collide with left columns). ``direction='backward'`` takes
    the latest right row with ``right_time <= left_time``;
    ``'forward'`` the earliest with ``right_time >= left_time``;
    ``'nearest'`` whichever of the two is closer in time at full
    microsecond precision (tie → backward, matching pandas
    ``merge_asof``). ``tolerance_secs`` drops a match strictly farther
    than that from the left time (the pandas ``tolerance`` parameter).

    ``nearest`` stays ONE shuffle: both directional windows share the
    union's hash partitioning on the key — Spark adds a second
    in-partition sort for the opposite ordering but never re-exchanges.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    from takuan_zoo.operators.timeseries import epoch_micros

    payload = F.struct(
        F.col(right_time).alias("_rt"),
        *[F.col(src).alias(out) for src, out in right_values.items()],
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        payload.alias("_rv"),
    )
    l = left.withColumn("_k", F.col(on)).withColumn(
        "_t", F.col(left_time)
    ).withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    def _dir_window(backward: bool) -> Window:
        t_order: Column = F.col("_t").asc() if backward else F.col("_t").desc()
        return (
            Window.partitionBy("_k")
            .orderBy(t_order, F.col("_side").asc(), F.col("_rv").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    # the window result is computed BEFORE filtering to left rows — the
    # frame must see the right rows that the filter removes.
    if direction in ("backward", "forward"):
        u = u.withColumn(
            "_m", F.last("_rv", ignorenulls=True).over(_dir_window(direction == "backward"))
        )
    else:
        mb = F.last("_rv", ignorenulls=True).over(_dir_window(True))
        mf = F.last("_rv", ignorenulls=True).over(_dir_window(False))
        u = u.withColumn("_mb", mb).withColumn("_mf", mf)
        # microsecond distances: whole-second floors would mis-pick when
        # the two candidates straddle a second boundary (e.g. 0.1s back
        # vs 0.9s forward both floor to "closer-forward")
        t = epoch_micros(F.col("_t"))
        db = t - epoch_micros(F.col("_mb._rt"))
        df_ = epoch_micros(F.col("_mf._rt")) - t
        u = u.withColumn(
            "_m",
            F.when(F.col("_mb").isNull(), F.col("_mf"))
            .when(F.col("_mf").isNull(), F.col("_mb"))
            .when(db <= df_, F.col("_mb"))
            .otherwise(F.col("_mf")),
        )
    if tolerance_secs is not None:
        dist = F.abs(
            epoch_micros(F.col("_m._rt")) - epoch_micros(F.col("_t"))
        )
        u = u.withColumn(
            "_m",
            F.when(dist <= tolerance_secs * 1_000_000, F.col("_m")),
        )
    out_cols = [F.col(c) for c in left.columns] + [
        F.col("_m")[out].alias(out) for out in right_values.values()
    ]
    return u.where(F.col("_side") == 1).select(*out_cols)
