"""Deterministic sampling for training-data pipelines (SURVEY.md §2.2
north-star family).

``df.sample()`` draws from a per-partition RNG: the sample changes with
partitioning, retries, and cluster layout — useless for reproducible
corpus construction. These operators hash the *content key* instead, so
membership is a pure function of (seed, key): stable across runs,
engines, partition counts, and incremental reruns over grown data (a
row's membership never flips when other rows arrive). That is how
training mixtures stay reproducible at 100 TB.

Hash: first 8 hex chars of md5(seed:key) as an integer, bucketed mod
10_000 — portable to any engine with md5 (the DuckDB oracle re-derives
it in SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BUCKETS = 10_000


def _bucket(key_col: str, seed: int) -> Column:
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BUCKETS


def hash_sample(
    df: DataFrame, *, key_col: str, fraction: float, seed: int = 42
) -> DataFrame:
    """Keep rows whose key hashes below ``fraction`` of the bucket space
    — a deterministic, engine-portable Bernoulli sample."""
    return df.where(_bucket(key_col, seed) < int(fraction * _BUCKETS))


def stratified_hash_sample(
    df: DataFrame,
    *,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. upweight rare languages in a
    corpus mix): one hash, a CASE-mapped threshold per stratum. Rows in
    unlisted strata use ``default_fraction``."""
    threshold: Column = F.lit(int(default_fraction * _BUCKETS))
    for value, frac in fractions.items():
        threshold = F.when(
            F.col(stratum_col) == value, F.lit(int(frac * _BUCKETS))
        ).otherwise(threshold)
    return df.where(_bucket(key_col, seed) < threshold)


def sample_to_mix(
    df: DataFrame,
    *,
    key_col: str,
    stratum_col: str,
    weights: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """The LARGEST deterministic sample whose strata follow the target
    ``weights`` — the data-mixing primitive of corpus construction
    ("50% en / 30% de / 20% fr, as much data as that allows").

    The binding stratum (smallest count/weight ratio) is kept whole and
    every other stratum downsamples to match: keep_fraction_s =
    c * w_s / cnt_s where c = min_t(cnt_t / w_t). The whole derivation
    stays in-plan — per-stratum counts (one aggregate), the scalar c
    (one-row broadcast), the per-stratum thresholds (broadcast join) —
    so the same two-pass shape runs at 100 TB with no driver arithmetic
    on data-dependent floats (which is also what lets an external SQL
    engine re-derive identical thresholds). Strata not in ``weights``
    are dropped. Membership stays the pure (seed, key) hash function of
    the other samplers.
    """
    w_expr: Column = F.lit(None).cast("double")
    for value, w in weights.items():
        w_expr = F.when(F.col(stratum_col) == value, F.lit(float(w))).otherwise(
            w_expr
        )
    counts = (
        df.where(F.col(stratum_col).isin(list(weights)))
        .groupBy(stratum_col)
        .agg(F.count("*").cast("double").alias("cnt"))
        .withColumn("w", w_expr)
    )
    c = counts.agg(F.min(F.col("cnt") / F.col("w")).alias("c"))
    thresholds = (
        counts.crossJoin(F.broadcast(c))
        .select(
            stratum_col,
            F.floor(
                F.col("c") * F.col("w") / F.col("cnt") * F.lit(float(_BUCKETS))
            )
            .cast("int")
            .alias("thr"),
        )
    )
    return df.join(F.broadcast(thresholds), stratum_col).where(
        _bucket(key_col, seed) < F.col("thr")
    ).drop("thr")


def shard_assign(
    df: DataFrame,
    *,
    key_col: str,
    n_shards: int,
    seed: int = 42,
) -> DataFrame:
    """Deterministic training-order sharding: assign every row a
    ``shard`` and a ``pos`` within that shard, both pure functions of
    (seed, key) — the "global shuffle" step that fixes the example
    order a training run consumes (ref has no analog; this is the
    north-star corpus-construction surface, SURVEY.md §2.2).

    Design for 100 TB: a naive global shuffle is a single
    ``row_number()`` over a full sort — one task, no parallelism.
    Instead the md5 bucket hash (same family as the samplers, so an
    external SQL engine re-derives it) does double duty:

    - ``shard = hash % n_shards`` — balanced in expectation, no
      shuffle at all for the assignment itself;
    - ``pos`` = rank of the row's hash *within its shard* (tiebroken
      by key) — a per-shard window, so the sort parallelizes across
      ``n_shards`` independent partitions and each task sorts ~1/n of
      the corpus. Because the hash is uniform, reading shard files in
      pos order IS a uniform random permutation of the corpus.

    The ordering hash here is 60-bit (15 md5 hex chars), NOT the 10k
    sampler bucket: with only 10^4 distinct order keys a billion-doc
    corpus would collide ~10^5 rows per key and the key tiebreak would
    make the "permutation" largely id-ordered clumps. 60 bits keeps
    collisions negligible at any realistic corpus size (and still fits
    BIGINT exactly in every engine the oracle runs on).

    Rows with equal hash order by key, so output is total-ordered and
    rerun-stable. Adding new data never reorders existing (shard, pos)
    prefixes *within* a hash value — membership and relative order are
    content-determined, not arrival-determined.
    """
    from pyspark.sql import Window

    from takuan_zoo.operators.hashing import md5_int

    h = md5_int(
        F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")),
        hex_chars=15,
    )
    out = df.withColumn("_h", h).withColumn(
        "shard", (F.col("_h") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(key_col))
    return out.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("bigint")
    ).drop("_h")


def weighted_systematic_sample(
    df: DataFrame,
    *,
    weight_col: str,
    stratum_col: str,
    order_col: str,
    stride: int,
) -> DataFrame:
    """Size-proportional systematic sampling: a row is selected iff its
    weight interval ``[cum_before, cum_before + w)`` crosses a multiple
    of ``stride`` on the per-stratum cumulative weight line — so
    selection probability is proportional to weight (rows heavier than
    ``stride`` are always selected), the expected sample size is
    ``total_weight / stride``, and everything is INTEGER arithmetic:
    deterministic, partition-invariant, reproducible by any engine (no
    RNG, no transcendental priority keys).

    The cumulative sum is a per-stratum window ordered by ``order_col``
    (same bounded shape as sequence packing: sorts happen within
    strata, never globally). Output adds ``cum_before`` and ``n_picks``
    (how many stride boundaries the interval crosses — the sampling
    multiplicity a with-replacement estimator would weight by).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(stratum_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.col(weight_col).cast("bigint")).over(w), F.lit(0)
    )
    # TRUE integer division (SQL `div`), not `/`+cast: `/` promotes to
    # double, which loses exactness past 2^53 — reachable by a
    # cumulative weight at corpus scale — and would silently diverge
    # from the oracle's exact `//`.
    out = df.withColumn("cum_before", cum_before).withColumn(
        "n_picks",
        F.expr(
            f"(cum_before + CAST({weight_col} AS BIGINT)) div {stride}"
            f" - cum_before div {stride}"
        ),
    )
    return out.where(F.col("n_picks") >= 1)
