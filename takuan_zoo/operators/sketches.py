"""Mergeable sketch aggregates on the portable md5 hash family.

Classic OLAP sketches — KMV (k-minimum-values) for distinct counts,
count-min for frequency estimates — built so that an external SQL
engine derives bit-identical state from the same data: hashes come from
``operators.hashing.md5_int`` (md5 is md5 everywhere), estimates use
only integer/double arithmetic both engines evaluate identically. That
makes APPROXIMATE answers hash-match oracle-checkable, the same story
as the MinHash/SimHash families.

Why sketches at 100 TB: an exact distinct shuffles every distinct value
to its group; a KMV sketch keeps k 8-byte hashes per group and merges
associatively, so partial aggregation collapses each map partition to
at most k values before the exchange. Count-min is a fixed (depth x
width) counter grid per group — bounded state however many distinct
items flow through, built with ordinary partial+final hash aggregation.

Determinism note: the KMV merged state (the k smallest DISTINCT hashes
over the whole group) is independent of partitioning and merge order —
that is what makes the partial/merge implementation exactly equal to
the oracle's global formulation.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators.hashing import (
    md5_int,
    md5_lane_int,
    sql_md5_int,
    sql_md5_lane_int,
)

#: md5_int(hex_chars=15) draws from [0, 2^60): the domain size in the
#: KMV estimator. Embedded as a literal in both engines' formulas.
KMV_DOMAIN = 1 << 60


def kmv_sketches(
    exploded: DataFrame,
    *,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """The raw KMV state per group: (group..., ks array<bigint>) — the
    k smallest distinct hashes. This IS the mergeable sketch: union any
    number of these frames (epochs, shards, days) and re-merge with
    :func:`kmv_merge`; the result equals the sketch of the combined
    data. :func:`kmv_distinct` = this + :func:`kmv_estimate`.

    Two-phase, state bounded by k everywhere:

    1. partial (narrow, mapInPandas): each input partition reduces to at
       most k distinct minimum hashes per group it contains — this is
       the map-side combine an exact distinct cannot have;
    2. merge: ``collect_list`` of the per-partition arrays (each <= k,
       so a group's merge input is <= k * partitions values, not its
       distinct cardinality), flatten/dedup/sort/slice back to k.

    The merged k-minimum set equals the global k smallest distinct
    hashes regardless of partitioning, so the DuckDB oracle can compute
    it with a plain ``row_number() <= k`` over distinct hashes.
    """
    groups = list(group_cols)
    # NULL values hash to NULL, and Spark's sort_array puts NULLs FIRST
    # while the oracle's ORDER BY puts them last — a NULL in the k-min
    # set would displace a real hash differently per engine. Skip them
    # (same contract as hll_registers: a NULL is no observation).
    hashed = exploded.where(F.col(value_col).isNotNull()).select(
        *groups, (md5_int(F.col(value_col), hex_chars=15)).alias("h")
    )

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized per-partition reduce: after every batch the carried
        # state is at most k rows per group seen — the sketch bound.
        state: pd.DataFrame | None = None
        for pdf in batches:
            frames = [pdf] if state is None else [state, pdf]
            state = (
                pd.concat(frames, ignore_index=True)
                .drop_duplicates()
                .sort_values("h", kind="mergesort")
                # dropna=False: pandas' default silently discards NULL
                # group keys, which Spark's merge groupBy (and the
                # DuckDB oracle) keep as a group of their own.
                .groupby(groups, sort=False, dropna=False)
                .head(k)
            )
        if state is None or state.empty:
            # empty partitions still flow through Arrow: the list column
            # must be object-dtyped or the converter infers float64 and
            # rejects the list<bigint> target type
            yield pd.DataFrame(
                {
                    **{g: pd.Series([], dtype=object) for g in groups},
                    "ks": pd.Series([], dtype=object),
                }
            )
            return
        out = (
            state.sort_values("h", kind="mergesort")
            .groupby(groups, as_index=False, sort=False, dropna=False)
            .agg(ks=("h", lambda s: s.tolist()))
        )
        yield out

    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in hashed.schema.fields[:-1]]
        + ["ks array<bigint>"]
    )
    partials = hashed.mapInPandas(_partial, schema)
    return kmv_merge(partials, group_cols=groups, k=k)


def kmv_merge(
    sketches: DataFrame, *, group_cols: Sequence[str], k: int
) -> DataFrame:
    """Merge sketch rows (group..., ks) that may repeat a group (one row
    per partition/epoch/shard): flatten, dedup, sort, keep k. The merge
    is associative and order-independent — the k smallest distinct
    hashes of a union do not depend on how the union was grouped."""
    return sketches.groupBy(*list(group_cols)).agg(
        F.slice(
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("ks")))),
            1,
            k,
        ).alias("ks")
    )


def kmv_estimate(
    sketches: DataFrame, *, group_cols: Sequence[str], k: int
) -> DataFrame:
    """Estimator over merged sketch state: ``floor((k-1) * 2^60 / h_k)``
    past saturation, exact kept count below it."""
    n_kept = F.size("ks")
    h_k = F.element_at("ks", k)
    est = F.floor((F.lit(float(k - 1)) * F.lit(float(KMV_DOMAIN))) / h_k)
    return sketches.select(
        *list(group_cols),
        F.when(n_kept >= k, est).otherwise(n_kept.cast("bigint")).alias(
            "est_distinct"
        ),
        n_kept.cast("int").alias("n_kept"),
    )


def kmv_distinct(
    exploded: DataFrame,
    *,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """KMV distinct-count estimate per group: (group..., est_distinct,
    n_kept) — sketch + estimate in one call."""
    return kmv_estimate(
        kmv_sketches(exploded, group_cols=group_cols, value_col=value_col, k=k),
        group_cols=group_cols,
        k=k,
    )


def kmv_oracle_sql(
    *,
    source_expr: str,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> str:
    """DuckDB mirror of :func:`kmv_distinct` over ``source_expr`` (a
    relation producing (group, value) rows): global k smallest distinct
    hashes per group via row_number."""
    return f"""
    WITH hashed AS (
        SELECT DISTINCT {group_col},
               {sql_md5_int(value_col, hex_chars=15)} AS h
        FROM {source_expr} WHERE {value_col} IS NOT NULL
    ),
    ranked AS (
        SELECT {group_col}, h,
               ROW_NUMBER() OVER (PARTITION BY {group_col} ORDER BY h) AS rn
        FROM hashed
    ),
    kept AS (
        SELECT {group_col},
               CAST(COUNT(*) AS INT) AS n_kept,
               MAX(CASE WHEN rn = {k} THEN h END) AS h_k
        FROM ranked WHERE rn <= {k}
        GROUP BY {group_col}
    )
    SELECT {group_col},
           CAST(CASE WHEN n_kept >= {k}
                     THEN floor(({k} - 1.0) * {float(KMV_DOMAIN)} / h_k)
                     ELSE n_kept END AS BIGINT) AS est_distinct,
           n_kept
    FROM kept
    """


# --- fixed-range histogram quantile sketch ----------------------------


def histogram_sketch(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> DataFrame:
    """Fixed-width histogram sketch per group: (group..., bin, c) with
    at most ``bins`` rows per group. Values clamp into the edge bins,
    so the declared [lo, hi) range is a resolution choice, not a
    correctness precondition. One partial+final hash aggregation —
    bounded state per group however many rows flow through — and the
    counts are a LINEAR sketch: grids from epochs/shards merge by
    summing (group, bin) cells."""
    width = (hi - lo) / bins
    b = (
        F.least(
            F.greatest(
                F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width)),
                F.lit(0),
            ),
            F.lit(bins - 1),
        )
        .cast("int")
        .alias("bin")
    )
    # a NULL value would create a NULL bin that inflates totals and
    # sorts FIRST under Spark's cumulative window (shifting every
    # quantile) — a NULL is no observation, same as KMV/HLL.
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*list(group_cols), b)
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def histogram_quantiles(
    hist: DataFrame,
    *,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    bins: int = 256,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Approximate quantiles from a histogram sketch by linear
    interpolation inside the covering bin — the mergeable alternative
    to a sort-based exact percentile (whose per-group state is the
    whole group). Windows run over <= ``bins`` rows per group; the
    probe list is a broadcast literal frame. Deterministic: bin counts
    are integers, the rank target q*total and the interpolation are
    single double expressions shared with the oracle. Output: one
    (group..., q, est) row per probe."""
    from pyspark.sql import Window

    groups = list(group_cols)
    width = (hi - lo) / bins
    w = Window.partitionBy(*groups).orderBy("bin")
    wg = Window.partitionBy(*groups)
    cum = hist.select(
        *groups,
        "bin",
        "c",
        F.sum("c").over(w).alias("cum"),
        (F.sum("c").over(w) - F.col("c")).alias("cum0"),
        F.sum("c").over(wg).alias("total"),
    )
    probes = hist.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    target = F.col("q") * F.col("total")
    est = (
        F.lit(lo)
        + F.col("bin") * F.lit(width)
        + F.lit(width) * (target - F.col("cum0")) / F.col("c")
    )
    # floor(x*1e4 + 0.5)/1e4 instead of round(): the interpolation can
    # land EXACTLY on a half-way point (all inputs are integers and
    # binary-exact literals), and engines break .5 ties differently —
    # floor-based half-up is bit-identical everywhere.
    est4 = F.floor(est * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return (
        cum.crossJoin(F.broadcast(probes))
        .where((target > F.col("cum0")) & (target <= F.col("cum")))
        .select(*groups, "q", est4.alias("est"))
    )


# --- HyperLogLog ------------------------------------------------------

#: register count m = 2^6 (6 index bits off the 60-bit md5 hash).
HLL_M = 64
#: bits left for the rank after the register index: 60 - 6.
HLL_W_BITS = 54
#: alpha_m bias constant for m = 64 (Flajolet et al., AofA 2007).
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: numerator of the raw estimate with the 2^55 fixed-point scale folded
#: in: alpha * m^2 * 2^55. One double literal shared by both engines, so
#: the single float division at the end is bit-identical.
_HLL_NUM = HLL_ALPHA * (HLL_M**2) * float(1 << 55)


def _hll_rho(w) -> F.Column:
    """rho(w) = leading-zero count of the 54-bit rank suffix + 1, as an
    integer threshold chain — no float log2, so the register value is
    bit-exact in any engine (first match wins, w >= 2^53 -> 1)."""
    out = F.lit(HLL_W_BITS + 1)
    for rho in range(HLL_W_BITS, 0, -1):
        out = F.when(w >= F.lit(1 << (HLL_W_BITS - rho)), F.lit(rho)).otherwise(out)
    return out


def _hll_rho_sql(w_expr: str) -> str:
    """DuckDB spelling of :func:`_hll_rho` (CASE is first-match-wins,
    matching the Spark when-chain branch order)."""
    branches = " ".join(
        f"WHEN {w_expr} >= {1 << (HLL_W_BITS - rho)} THEN {rho}"
        for rho in range(1, HLL_W_BITS + 1)
    )
    return f"(CASE {branches} ELSE {HLL_W_BITS + 1} END)"


def hll_registers(
    exploded: DataFrame, *, group_cols: Sequence[str], value_col: str
) -> DataFrame:
    """The raw HLL state per group: (group..., reg, r) with at most
    ``HLL_M`` = 64 rows per group — ``reg`` = h mod 64, ``r`` = max rho
    of the remaining 54 hash bits. Built by one partial+final hash
    aggregation (map-side combine collapses every partition to <= 64
    rows per group before the exchange), so state is fixed-size however
    many distinct values flow through — the property KMV shares and an
    exact distinct cannot have. NULL values are skipped on both engines
    (a NULL hashes to no register)."""
    groups = list(group_cols)
    hashed = exploded.where(F.col(value_col).isNotNull()).select(
        *groups, md5_int(F.col(value_col), hex_chars=15).alias("h")
    )
    return (
        hashed.select(
            *groups,
            (F.col("h") % HLL_M).cast("int").alias("reg"),
            _hll_rho(F.shiftright("h", 6)).alias("rho"),
        )
        .groupBy(*groups, "reg")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def hll_merge(registers: DataFrame, *, group_cols: Sequence[str]) -> DataFrame:
    """Merge register frames that may repeat a (group, reg) cell (one
    frame per epoch/shard/day): element-wise max. HLL registers are a
    max-sketch — the register grid of a union is the cell-wise max of
    the grids — so the merge is associative, order-independent and
    partitioning-invariant."""
    return (
        registers.groupBy(*list(group_cols), "reg")
        .agg(F.max("r").cast("int").alias("r"))
    )


def hll_estimate(
    registers: DataFrame, *, group_cols: Sequence[str]
) -> DataFrame:
    """Estimator over merged register state. The harmonic sum is kept in
    EXACT integer fixed-point (each register contributes 2^(55-r), an
    empty register 2^55; total < 2^62) so it is independent of Spark's
    partial-aggregation order — double summation of 2^-r terms would
    round differently per partitioning and break the oracle hash. The
    only float ops are one shared-literal division and (below 2.5m with
    empty registers) the linear-counting ln, rounded to 4dp in both
    engines. No large-range correction: 60-bit hashes make collisions
    negligible far past any corpus this runs on."""
    groups = list(group_cols)
    agg = registers.groupBy(*groups).agg(
        F.count("*").cast("int").alias("n_regs"),
        F.sum(
            F.pow(F.lit(2.0), (F.lit(HLL_W_BITS + 1) - F.col("r")).cast("double"))
            .cast("bigint")
        ).alias("s"),
    )
    zeros = (F.lit(HLL_M) - F.col("n_regs")).cast("bigint")
    total = F.col("s") + zeros * F.lit(1 << (HLL_W_BITS + 1))
    raw = F.lit(_HLL_NUM) / total
    linear = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros)
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (zeros > 0), linear).otherwise(raw)
    return agg.select(
        *groups, F.round(est, 4).alias("est_distinct"), "n_regs"
    )


def hll_distinct(
    exploded: DataFrame, *, group_cols: Sequence[str], value_col: str
) -> DataFrame:
    """HLL distinct-count estimate per group: (group..., est_distinct,
    n_regs) — registers + estimate in one call."""
    return hll_estimate(
        hll_registers(exploded, group_cols=group_cols, value_col=value_col),
        group_cols=group_cols,
    )


def hll_registers_sql(
    *, source_expr: str, group_col: str, value_col: str
) -> str:
    """CTE chain producing ``regs(group, reg, r)`` in DuckDB from a
    (group, value) relation — the shared head of every HLL oracle."""
    return f"""hh AS (
        SELECT {group_col}, {sql_md5_int(value_col, hex_chars=15)} AS h
        FROM {source_expr} WHERE {value_col} IS NOT NULL
    ),
    regs AS (
        SELECT {group_col}, CAST(h % {HLL_M} AS INT) AS reg,
               CAST(MAX({_hll_rho_sql(f"(h // {HLL_M})")}) AS INT) AS r
        FROM hh GROUP BY 1, 2
    )"""


def hll_estimator_sql(*, group_col: str, regs_rel: str = "regs") -> str:
    """Aggregate + estimate SQL over a ``(group, reg, r)`` relation —
    the shared tail of every HLL oracle (same integer fixed-point sum
    and literals as :func:`hll_estimate`)."""
    raw = f"({_HLL_NUM!r} / (s + ({HLL_M} - n_regs) * {1 << (HLL_W_BITS + 1)}))"
    return f"""agg AS (
        SELECT {group_col}, CAST(COUNT(*) AS INT) AS n_regs,
               CAST(SUM(CAST(power(2.0, {HLL_W_BITS + 1} - r) AS BIGINT))
                    AS BIGINT) AS s
        FROM {regs_rel} GROUP BY 1
    )
    SELECT {group_col},
           ROUND(CASE WHEN {raw} <= {2.5 * HLL_M!r} AND n_regs < {HLL_M}
                      THEN {float(HLL_M)!r}
                           * ln({float(HLL_M)!r} / ({HLL_M} - n_regs))
                      ELSE {raw} END, 4) AS est_distinct,
           n_regs
    FROM agg"""


def hll_oracle_sql(
    *, source_expr: str, group_col: str, value_col: str
) -> str:
    """DuckDB mirror of :func:`hll_distinct` over ``source_expr`` (a
    relation producing (group, value) rows) — same md5-derived
    registers, same integer fixed-point harmonic sum, same literals."""
    return f"""
    WITH {hll_registers_sql(source_expr=source_expr, group_col=group_col,
                            value_col=value_col)},
    {hll_estimator_sql(group_col=group_col)}
    """


def cms_counters(
    exploded: DataFrame,
    *,
    group_cols: Sequence[str],
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch counters per group: (group..., row, bucket, c)
    with ``bucket = md5_lane_int(value, row) % width``.

    Two costs were cut from the naive shape (explode x depth, then one
    digest per (row, item) row — r5 stage probe: ~97% of the query was
    4 md5s per token):

    - items are COUNT-AGGREGATED per (group, value) first, so hashing
      and the depth-way explode run once per *distinct* value (Zipfian
      corpora: distinct << instances; the pre-agg is the word-count
      shape with full map-side combine);
    - the depth hash rows are disjoint 8-hex-char lanes of ONE md5
      digest, projected before the explode (codegen does not eliminate
      subexpressions inside Generate arguments), not depth digests.

    The counter grid is depth x width rows per group — fixed-size
    state whatever the distinct cardinality."""
    if depth > 32:
        raise ValueError(
            "depth > 32 leaves zero md5 hex chars per lane (the 32-char "
            "digest is cut into depth disjoint lanes)"
        )
    groups = list(group_cols)
    hexc = min(8, 32 // depth)
    lanes = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (
                    F.conv(
                        F.substring(F.col("_d"), 1 + j * hexc, hexc), 16, 10
                    ).cast("bigint")
                    % F.lit(width)
                )
                .cast("int")
                .alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        exploded.select(*groups, F.col(value_col).alias("v"))
        .groupBy(*groups, "v")
        .agg(F.count(F.lit(1)).alias("_n"))
        # cast("string") so numeric value columns analyze (md5 requires
        # BINARY input); a no-op for string columns, so existing hashes
        # are unchanged, and a numeric value hashes identically to its
        # decimal-string probe
        .withColumn("_d", F.md5(F.col("v").cast("string")))
        .select(*groups, "_n", F.explode(lanes).alias("rb"))
        .select(
            *groups,
            F.col("rb.row").alias("row"),
            F.col("rb.bucket").alias("bucket"),
            "_n",
        )
        .groupBy(*groups, "row", "bucket")
        .agg(F.sum("_n").cast("bigint").alias("c"))
    )


def cms_merge(
    counters: DataFrame, *, group_cols: Sequence[str]
) -> DataFrame:
    """Merge counter grids that may repeat a (group, row, bucket) cell
    (one grid per epoch/shard): element-wise sum. CMS is a linear
    sketch — the grid of a union is the sum of the grids — so the merge
    is one partial-aggregated groupBy over depth x width x groups rows.
    """
    return (
        counters.groupBy(*list(group_cols), "row", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def cms_estimate(
    counters: DataFrame,
    probes: DataFrame,
    *,
    group_cols: Sequence[str],
    probe_col: str = "term",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate item frequencies from CMS counters: for each
    (group, probe term), est = min over rows of the counter at that
    row's bucket (the classic upper-bound estimate; over-counts only on
    collisions). An EMPTY bucket means a count of 0, so the probe grid
    left-joins the counters (an inner join would silently drop the
    zero rows and overestimate absent terms). The probe side is tiny
    and broadcast against the depth x width counter grid."""
    from takuan_zoo.operators.skew import materialize

    groups = list(group_cols)
    # counters feeds BOTH the group-list branch and the left join;
    # Catalyst won't reuse the subplan, so unmaterialized the corpus
    # explode + aggregation would execute twice. The grid is depth x
    # width rows per group — cache-sized by construction.
    if depth > 32:
        raise ValueError(
            "depth > 32 leaves zero md5 hex chars per lane (the 32-char "
            "digest is cut into depth disjoint lanes)"
        )
    counters = materialize(counters)
    hexc = min(8, 32 // depth)
    lanes = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (
                    md5_lane_int(
                        F.col("term").cast("string"), j, hex_chars=hexc
                    )
                    % F.lit(width)
                )
                .cast("int")
                .alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    pr = probes.select(F.col(probe_col).alias("term"), F.explode(lanes).alias("rb"))
    pr = pr.select("term", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    grid = counters.select(*groups).distinct().crossJoin(F.broadcast(pr))
    joined = grid.join(
        counters, [*groups, "row", "bucket"], "left"
    ).withColumn("c", F.coalesce("c", F.lit(0)))
    return (
        joined.groupBy(*groups, "term")
        .agg(F.min("c").cast("bigint").alias("est_count"))
    )
