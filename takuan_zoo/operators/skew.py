"""Skew and materialization helpers for the zoo operators (SURVEY.md
§4.3). The service's partition-width helper, ``spread``, lives in
``takuan_spark.operators.skew``.

When to use what, at 100 TB:

- **Aggregation skew** usually needs nothing: partial (map-side)
  aggregation already collapses each hot key to one row per task before
  the shuffle. The exception is high-cardinality *state* per key
  (collect_list/collect_set/distinct counts), where one reducer ends up
  holding a hot key's whole payload — that is what :func:`salted_agg`
  two-phases: agg on (key, salt) first, then re-agg on key.
- **Join skew** is AQE's job first (`spark.sql.adaptive.skewJoin`, on by
  default in our session): it splits oversized partitions at runtime.
  :func:`salted_join` is the explicit fallback for the pathological case
  AQE can't fix — a hot key on the *probe* side against a small-but-
  not-broadcastable build side: the probe side gets a random salt, the
  build side is replicated across all salt values.

Both helpers preserve exact semantics (tests prove equality against the
unsalted plans); they only change the shuffle layout.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: Frames persisted (instead of checkpointed) by :func:`snapshot` on
#: sessions without ``localCheckpoint``, since the last
#: :func:`release_materialized` call. A registered query's persisted
#: frames must outlive its (lazy) return value — the caller's action is
#: what consumes the cache — so release happens at the NEXT query's
#: entry (``takuan_zoo.queries`` wraps every registry builder) and in
#: the bench harness after each action.
_MATERIALIZED: list[DataFrame] = []


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a small derived frame that feeds several downstream
    branches (both sides of a banded self-join, a stats panel, ...).

    Catalyst does not reuse the exchange across the two branches of a
    banded self-join (verified on the MinHash plan: 2 scans, 4
    aggregates), so an expensive derivation — signatures, sketches —
    would run twice. Materializing is the plan-level analog of the
    standard at-scale practice of writing the signature table before
    the join.

    The mechanism is an EAGER ``localCheckpoint`` (:func:`snapshot`),
    not ``persist()``: AQE materializes independent downstream query
    stages CONCURRENTLY, and a still-cold persisted cache is rebuilt by
    every concurrent consumer instead of once (profiled on the graph
    family: five 64-task stages re-deriving one 0.1 MB cached edge frame
    at 11-14 core-seconds each; a 14-query A/B panel of the
    materialize-heavy rows measured 62.2 s checkpointed vs 71.7 s
    persisted). The checkpoint computes the frame exactly once, before
    any consumer plans against it, and the flat ``LogicalRDD`` gives AQE
    exact sizes. Checkpointed blocks are freed by the ContextCleaner
    when the frame is garbage collected.
    """
    return snapshot(df)


def snapshot(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize a derived frame AND truncate its lineage
    (``localCheckpoint(eager=True)``) — the iterative-loop variant of
    :func:`materialize`.

    Chained per-round ``persist()`` keeps the FULL logical lineage: by
    round N the plan nests N ``InMemoryRelation`` subtrees, every one
    re-analyzed and re-planned by AQE at each stage boundary, and the
    executed rounds were measured paying ~200 ms/task in 64-task stages
    over <1 MB of data (q_graph_kcore profile). A local
    checkpoint cuts the plan at the materialized RDD instead — round N
    plans against a flat ``LogicalRDD`` whose size is known exactly, so
    planning stays O(1) per round and AQE picks broadcast strategies
    from real sizes (guide §3.3: "materialising an intermediate result
    (write + read back, or localCheckpoint) truncates the plan").
    Measured on q_graph_kcore at sf0.1: persist-chain 6.5 s →
    localCheckpoint 3.0 s, identical results.

    ``eager=False`` defers materialization to the caller's next action
    — for loops that already run one driver action per round (e.g. an
    argmax collect), the lazy form keeps that single job per round
    instead of adding a checkpoint job ahead of it.

    Trade (same at 100 TB, where this pattern is standard for iterative
    algorithms — MLlib checkpoints its iteration state for exactly this
    reason): checkpointed blocks skip lineage-based recovery, so an
    executor loss costs a job retry instead of a partition recompute.
    Blocks are freed by the ContextCleaner when the frame is garbage
    collected. Falls back to a persist on sessions without
    localCheckpoint (Spark Connect) — detected up front, like the
    service's ``spread``, so that a REAL execution failure inside the eager
    checkpoint job (corrupt input, UDF error, executor OOM) propagates
    instead of being silently retried as a lazy persist at the
    caller's action."""
    try:
        df.sparkSession.sparkContext  # noqa: B018 — capability probe
    except Exception:
        # Spark Connect: no sparkContext, no localCheckpoint. Direct
        # persist fallback (NOT materialize(), which routes back here
        # in the default mode).
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _MATERIALIZED.append(df)
        return df
    return df.localCheckpoint(eager=eager)


def release_materialized() -> int:
    """Unpersist every frame :func:`materialize` has tracked since the
    last release; returns how many were released. Unpersisting an
    already-released frame (e.g. one an operator dropped early, like
    dedup_clusters' edge cache) is a safe no-op."""
    import warnings

    n = 0
    while _MATERIALIZED:
        df = _MATERIALIZED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception as exc:
            # a frame whose session is already stopped cannot be (and
            # does not need to be) unpersisted — that exact case is
            # expected during teardown. Anything else (a broken JVM
            # connection mid-suite, a Py4J protocol error) is a real
            # signal: surface it as a warning rather than swallowing,
            # but keep draining so one bad frame cannot pin the rest.
            msg = str(exc).lower()
            if not ("stopped" in msg or "cancelled" in msg):
                warnings.warn(
                    f"release_materialized: unpersist failed with a "
                    f"non-stopped-session error: {exc!r}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return n


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: Callable[[], list[Column]],
    reaggs: Callable[[], list[Column]],
    *,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation over salted keys.

    ``aggs()`` builds the phase-1 aggregate columns (over (keys, salt));
    ``reaggs()`` builds the phase-2 re-aggregation of those columns (over
    keys). Example — hot-key counts::

        salted_agg(df, ["address"],
                   aggs=lambda: [F.count("*").alias("c")],
                   reaggs=lambda: [F.sum("c").alias("cnt")])

    The first shuffle spreads each hot key over ``salt_buckets``
    reducers; the second shuffle moves only ``salt_buckets`` rows per
    key.
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    phase1 = salted.groupBy(*keys, "_salt").agg(*aggs())
    return phase1.groupBy(*keys).agg(*reaggs())


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    *,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with probe-side salting and build-side replication.

    The probe side gets ``_salt = rand() % B``; the build side is
    exploded B× with every salt value; the join key becomes
    ``(on, _salt)``. Shuffle cost: probe unchanged, build replicated
    B× — only worth it when the build side is small relative to the hot
    key's row count and AQE skew-split is unavailable (e.g. the skewed
    side feeds a downstream stage that pins partitioning).

    Only ``inner`` and ``left`` are semantics-preserving under this
    rewrite: with ``right``/``full``, an unmatched build row appears once
    per salt value (B duplicates), so those join types are rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join preserves semantics only for how in ('inner', "
            f"'left'); got {how!r} (unmatched build rows would be "
            f"replicated once per salt bucket)"
        )
    salted_probe = probe.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    replicated_build = build.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_probe.join(replicated_build, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def key_skew_profile(
    df: DataFrame,
    *,
    key_cols: list[str],
    topk: int = 10,
) -> DataFrame:
    """One-row key-distribution diagnostic — the measurement that
    decides whether a join/agg on these keys needs salting, AQE skew
    handling, or nothing: key count, row total, max-key share, top-k
    share, and normalized Shannon entropy of the key distribution
    (1.0 = perfectly uniform, -> 0 = one key dominates).

    Cost shape: one map-side-combined count per key, then scalar
    aggregates over the (bounded) per-key count frame; the top-k runs
    as TakeOrderedAndProject. Safe to run inline before a heavy join at
    any scale."""
    keys = list(key_cols)
    counts = materialize(
        df.groupBy(*keys).agg(F.count("*").alias("c"))
    )
    # coalesce the zero-row aggregates: SUM/MAX over no rows are NULL,
    # and NULL totals would propagate through every share — an empty
    # input must read as an explicit "0 keys, 0 rows" diagnostic that
    # downstream thresholding handles without NULL surprises.
    stats = counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("total"),
        F.coalesce(F.max("c"), F.lit(0)).cast("bigint").alias("max_c"),
        F.coalesce(F.sum(F.col("c") * F.log("c")), F.lit(0.0)).alias("_sc"),
    )
    top = (
        counts.orderBy(F.desc("c"), *keys)
        .limit(topk)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("top_c"))
    )
    ent = (
        F.log(F.col("total").cast("double")) - F.col("_sc") / F.col("total")
    ) / F.log(F.col("n_keys").cast("double"))
    nonempty = F.col("total") > 0
    return stats.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "total",
        F.round(
            F.when(nonempty, F.col("max_c") / F.col("total"))
        , 6).alias("max_share"),
        F.round(
            F.when(nonempty, F.col("top_c") / F.col("total"))
        , 6).alias("topk_share"),
        F.round(
            F.when(F.col("n_keys") > 1, ent).when(nonempty, F.lit(1.0)), 6
        ).alias("norm_entropy"),
    )
