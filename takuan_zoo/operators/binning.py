"""Quantile (equal-frequency) binning — feature discretization.

The ML-preprocessing discretizer: bin a numeric column so each bin
holds ~equal row counts within its group. Implemented on
``percent_rank`` (rank-based, tie-stable: equal values always share a
bin, unlike ``ntile``'s row-split which assigns tied rows to different
bins depending on partition order — nondeterministic under shuffle).

One exchange on the group key; the rank and the bin label evaluate in
the same window stage. At 100 TB the per-group sort is the cost — the
same cost any exact quantile computation pays; approximate pipelines
swap in the histogram sketch (operators/sketches.py) upstream and keep
this operator for the final labeled output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def quantile_bins(
    df: DataFrame,
    *,
    value_col: str,
    group_cols: list[str],
    nbins: int,
) -> DataFrame:
    """Input rows + ``bin`` in [0, nbins): ``floor(percent_rank *
    nbins)`` clamped at the top (the max row has rank exactly 1.0)."""
    w = Window.partitionBy(*group_cols).orderBy(value_col)
    pr = F.percent_rank().over(w)
    return df.withColumn(
        "bin",
        F.least(
            F.floor(pr * nbins), F.lit(nbins - 1)
        ).cast("int"),
    )


def bin_profile(
    df: DataFrame,
    *,
    value_col: str,
    group_cols: list[str],
    nbins: int,
) -> DataFrame:
    """Per-(group, bin) profile: n, lo, hi, mean — the cutpoint table a
    feature store persists alongside the discretizer."""
    binned = quantile_bins(
        df, value_col=value_col, group_cols=group_cols, nbins=nbins
    )
    return binned.groupBy(*group_cols, "bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.min(value_col), 2).alias("lo"),
        F.round(F.max(value_col), 2).alias("hi"),
        F.round(F.avg(value_col), 4).alias("mean_val"),
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    *,
    k: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE(k) over a GLOBAL total order, distributed.

    A bare ``ntile(k).over(Window.orderBy(...))`` collapses the whole
    relation into ONE window partition — a single-task sort that
    serializes at any scale (the r11 sweep found exactly that in
    q_ntile_deciles). Distributed shape: range-repartition on the
    order columns (partitions become globally ordered blocks), local
    row_number within each block via a window PARTITIONED by the block
    id (parallel across blocks), then per-block row counts — block
    grain, broadcastable — yield each block's global offset and the
    relation's total, and the NTILE bucket follows in closed form
    (ntile semantics: n div k rows per bucket, the first n mod k
    buckets carry one extra).

    ``order_cols`` must be a TOTAL order (include a unique tiebreak):
    under ties, rank placement — and therefore bucket membership at
    bucket boundaries — would depend on physical row placement. The
    range-partitioned frame is persisted (materialize) because the
    offsets pass and the rank pass must observe the SAME partitioning;
    two passes over a stable snapshot is what exact global ranking
    costs at any scale (the same contract as zipWithIndex).
    """
    from takuan_zoo.operators.skew import materialize

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    reserved = {"_pid", "_rn", "_n", "_off", "_cnt"} & set(df.columns)
    if reserved:
        # fail loudly rather than silently overwriting and dropping a
        # caller's column (the same convention as overlap_pairs' '_bk')
        raise ValueError(
            f"column names {sorted(reserved)} are reserved by global_ntile"
        )
    spark = df.sparkSession
    n_part = num_partitions or spark.sparkContext.defaultParallelism
    part = materialize(
        df.repartitionByRange(n_part, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    counts = part.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    # block grain: rows = num_partitions, data-independent — the
    # single-partition cumulative window is a constant, not a scale term
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    meta = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(Window.partitionBy()).alias("_n"),
    )
    w_loc = Window.partitionBy("_pid").orderBy(*order_cols)
    rn = F.row_number().over(w_loc) + F.col("_off")
    q = F.expr(f"_n div {k}")
    r = F.expr(f"_n % {k}")
    big = q + F.lit(1)
    # first r buckets hold q+1 rows, the rest q; the otherwise branch
    # (division by q) is only reached when q > 0 because with q == 0
    # every row satisfies rn <= r * 1 (r == n)
    bucket = F.when(
        F.col("_rn") <= r * big, F.ceil(F.col("_rn") / big)
    ).otherwise(r + F.ceil((F.col("_rn") - r * big) / q))
    return (
        part.join(F.broadcast(meta), "_pid")
        .withColumn("_rn", rn)
        .withColumn(out_col, bucket.cast("int"))
        .drop("_pid", "_off", "_n", "_rn")
    )


def quantile_normalize(
    df: DataFrame,
    *,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """Cross-group quantile normalization by NEAREST RANK: each row's
    value is replaced by the pooled-distribution value at the pooled
    index matching its within-group quantile — the standard fix for
    "source A's quality scorer runs hot": after normalization every
    group has (as near as ranks allow) the pooled distribution, so a
    single global threshold treats groups fairly.

    Everything is integer rank arithmetic (nearest-rank, not
    interpolated): a row at within-group rank r of n maps to pooled
    index round-half-up((r-1)*(N-1)/(n-1)) + 1 (singleton groups to
    the pooled median index), and the pooled value at an index is
    looked up by cumulative-count ranges over the DISTINCT value grid
    — no float ever appears, so engines agree bit-for-bit. Range
    bound: the rank product (r-1)*(N-1)*2 must fit bigint, which
    holds to ~2.1e9 rows in the largest group; beyond that, move the
    index expression to DECIMAL(38,0) (the ks_drift numerator note,
    one order tighter here because of the doubled product).

    Scale shape: the per-group rank is a window partitioned by group
    (parallel across groups); the pooled lookup is a broadcast range
    join against the value-grid frame, whose size is the number of
    DISTINCT values (bounded domains like lengths/scores), never the
    corpus. Output: input rows + (src_rank, norm_value)."""
    wg = Window.partitionBy(group_col).orderBy(value_col, id_col)
    staged = df.select(
        id_col,
        group_col,
        value_col,
        F.row_number().over(wg).alias("src_rank"),
        F.count(F.lit(1))
        .over(Window.partitionBy(group_col))
        .alias("_n_g"),
    )
    vc = (
        df.groupBy(value_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .select(F.col(value_col).alias("_v"), "_c")
        .select(
            "_v",
            "_c",
            F.sum("_c")
            .over(
                Window.partitionBy(F.lit(1))
                .orderBy("_v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("_cum"),
        )
        .select("_v", (F.col("_cum") - F.col("_c")).alias("_lo"), "_cum")
    )
    n_total = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    idx = F.when(
        F.col("_n_g") == 1, F.expr("(_n + 1) DIV 2")
    ).otherwise(
        F.expr(
            "((src_rank - 1) * (_n - 1) * 2 + (_n_g - 1))"
            " DIV (2 * (_n_g - 1)) + 1"
        )
    )
    return (
        staged.crossJoin(F.broadcast(n_total))
        .withColumn("_idx", idx)
        .join(
            F.broadcast(vc),
            (F.col("_idx") > F.col("_lo")) & (F.col("_idx") <= F.col("_cum")),
        )
        .select(
            id_col,
            group_col,
            value_col,
            "src_rank",
            F.col("_v").alias("norm_value"),
        )
    )
