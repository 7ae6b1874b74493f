"""Embedding clustering and dataset-shaping operators: Lloyd k-means,
class rebalancing, and vector QC.

K-means here is the DETERMINISTIC, oracle-checkable form: seeds are
the k lowest-id vectors (no RNG), iterations are fixed, and every
floating-point handoff (distances, centroid means) rounds to 6dp so an
external SQL engine replays the identical trajectory. The plan is pure
joins — no driver-side centroid collect:

- assignment: corpus x broadcast(k centroid rows), squared distance as
  an ORDERED left-fold over the zipped arrays (both engines sum
  element-by-element in array order — bit-identical inputs give
  bit-identical sums), argmin by min-struct aggregate (map-side
  combined; no per-vector sort);
- refit: posexplode to (cluster, dim) partial means — shuffle carries
  one partial per (cluster, dim) per partition, independent of corpus
  size — then re-assembled to centroid arrays with an ordered
  array_sort, never a collect.

At 100 TB this is the standard Lloyd-on-Spark shape (the corpus is
scanned iters+1 times; the k x dim centroid frame is the only
broadcast). Production variants swap the fold-distance for the Arrow
GEMM used by operators/semdedup.py — same plan skeleton.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance as an ordered element fold, rounded
    to 6dp — the cross-engine determinism contract."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def assign_to_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist): nearest centroid per vector — broadcast the
    (cid, cv) centroid frame, argmin (dist, cid) via one min-struct
    hash aggregate (first-cid tiebreak, map-side combined)."""
    d = _sq_dist(_as_double(F.col(vec_col)), F.col("cv"))
    scored = emb.select(id_col, vec_col).crossJoin(
        F.broadcast(centroids)
    ).select(id_col, "cid", d.alias("d"))
    best = F.min(F.struct(F.col("d"), F.col("cid")))
    return scored.groupBy(id_col).agg(
        best.getField("cid").alias("cluster"),
        best.getField("d").alias("dist"),
    )


def seed_centroids(
    emb: DataFrame,
    *,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic seeds: the k lowest-id vectors, cid = rank. (The
    no-RNG stand-in for kmeans++ — reproducible across engines and
    runs.)"""
    low = emb.orderBy(id_col).limit(k)
    return low.select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cid"),
        _as_double(F.col(vec_col)).alias("cv"),
    )


def refit_centroids(
    emb: DataFrame,
    assignment: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """New (cid, cv) centroids: element-wise mean over each cluster's
    members, each component rounded to 6dp. Empty clusters drop out
    (standard Lloyd: they simply stop existing)."""
    joined = emb.select(id_col, vec_col).join(
        assignment.select(id_col, "cluster"), id_col
    )
    comp = joined.select(
        F.col("cluster").alias("cid"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x"),
    )
    means = comp.groupBy("cid", "pos").agg(
        F.round(F.avg("x"), 6).alias("mv")
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))),
            lambda s: s.getField("mv"),
        ).alias("cv")
    )


def kmeans_assignments(
    emb: DataFrame,
    *,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist) after ``iters`` Lloyd refits from the
    deterministic seeds — one lazy plan, no driver round-trips."""
    cents = seed_centroids(emb, k=k, id_col=id_col, vec_col=vec_col)
    assignment = assign_to_centroids(
        emb, cents, id_col=id_col, vec_col=vec_col
    )
    for _ in range(iters):
        cents = refit_centroids(
            emb, assignment, id_col=id_col, vec_col=vec_col
        )
        assignment = assign_to_centroids(
            emb, cents, id_col=id_col, vec_col=vec_col
        )
    return assignment


def class_rebalance(
    df: DataFrame,
    *,
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Oversample minority classes to parity: every row of label L
    replicates ``ceil(max_class_count / count_L)`` times (integer
    math — no float boundary). Output: (id, label, copy) — the
    replicated training view; explode(sequence) keeps the blow-up
    inside the executors, row-local, no shuffle at all."""
    counts = df.groupBy(label_col).agg(F.count("*").alias("n"))
    mx = counts.agg(F.max("n").alias("mx"))
    factors = counts.crossJoin(F.broadcast(mx)).select(
        label_col,
        F.expr("(mx + n - 1) div n").cast("int").alias("factor"),
    )
    return df.select(id_col, label_col).join(
        F.broadcast(factors), label_col
    ).select(
        id_col,
        label_col,
        F.explode(F.sequence(F.lit(1), F.col("factor"))).alias("copy"),
    )


def embedding_qc(
    emb: DataFrame,
    *,
    dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
    norm_lo: float = 0.5,
    norm_hi: float = 2.0,
) -> DataFrame:
    """Per-label vector quality gate: counts of wrong-dimension, NaN,
    all-zero, and out-of-band-norm vectors plus the mean norm — the
    validation row an embedding pipeline checks before indexing.
    Norms round to 6dp pre-aggregation (the determinism anchor)."""
    v = _as_double(F.col(vec_col))
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    has_nan = F.exists(v, lambda x: F.isnan(x))
    all_zero = F.forall(v, lambda x: x == 0.0)
    per = emb.select(
        label_col,
        norm.alias("nrm"),
        has_nan.alias("bad_nan"),
        all_zero.alias("zero"),
        (F.size(vec_col) != dim).alias("bad_dim"),
    )
    # NaN vectors are counted ONLY in n_nan: Spark orders NaN above
    # every number (so a NaN norm would otherwise also trip the
    # high-norm gate), and a NaN norm in the mean poisons it — both
    # gates and the mean therefore see non-NaN vectors only.
    clean_nrm = F.when(~F.col("bad_nan"), F.col("nrm"))
    return per.groupBy(label_col).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("bad_dim").cast("int")).cast("bigint").alias("n_bad_dim"),
        F.sum(F.col("bad_nan").cast("int")).cast("bigint").alias("n_nan"),
        F.sum(F.col("zero").cast("int")).cast("bigint").alias("n_zero"),
        F.sum((clean_nrm < norm_lo).cast("int"))
        .cast("bigint")
        .alias("n_norm_low"),
        F.sum((clean_nrm > norm_hi).cast("int"))
        .cast("bigint")
        .alias("n_norm_high"),
        F.round(F.avg(clean_nrm), 4).alias("mean_norm"),
    )


def power_iteration_top_component(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    iters: int = 2,
) -> DataFrame:
    """Top principal direction of the (uncentered) second-moment
    matrix by deterministic power iteration — PCA's workhorse step,
    expressed so the Gram matrix is NEVER materialized: each iteration
    computes ``t = X^T (X u)`` as one scan (per-row dot product in a
    codegen'd ordered fold) plus one dim-sized aggregate (posexplode →
    ``sum(x_pos * s)`` per dimension), then normalizes inside the same
    one-row frame. The start vector is the deterministic uniform unit
    vector (1/sqrt(dim), rounded 6dp) and every handoff rounds 6dp —
    the same cross-engine determinism contract as k-means above, so an
    external SQL engine replays the identical trajectory.

    Output: one row per dimension (pos 1-based, comp) plus the
    constant columns lambda (||X^T X u|| of the final iterate — the
    top eigenvalue estimate) and explained_share (lambda over the
    total second moment, i.e. the fraction of corpus "energy" along
    the component).

    Scale shape: per iteration the shuffle carries dim partial sums
    per partition (map-side combined), and the dim-sized iterate is
    COLLECTED to the driver (bounded: dim doubles) and re-enters the
    next round as a literal vector — the kcenter_coreset execution
    contract. Chaining the 1-row iterate frame lazily instead would
    re-derive every earlier round inside each round's broadcast
    subtree (O(iters^2) corpus passes; the 10x probe read 6.7x before
    this fix, 1.3x after). The cached corpus is scanned iters + 1
    times and nothing dim^2-sized or corpus-sized ever concentrates
    anywhere.
    """
    from takuan_spark.operators.skew import spread
    from takuan_zoo.operators.skew import materialize

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # spread before caching: the per-round posexplode + (pos) aggregate
    # parallelism is otherwise capped at the parquet row-group count
    # (7 at probe scale -> 7 tasks on 32 cores)
    x = materialize(spread(emb.select(_as_double(F.col(vec_col)).alias("v"))))
    u0 = round(1.0 / dim**0.5, 6)
    u_vals: list[float] = [u0] * dim
    lam_val: float | None = None
    for _ in range(iters):
        u_lit = F.array(*[F.lit(float(ui)) for ui in u_vals])
        s = F.aggregate(
            F.zip_with("v", u_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        weighted = x.select(
            F.posexplode("v").alias("pos", "xv"), s.alias("s")
        )
        t = weighted.groupBy("pos").agg(
            F.round(F.sum(F.col("xv") * F.col("s")), 6).alias("t")
        )
        # the normalize happens in SPARK expressions (F.round has
        # half-up semantics; python round is half-even) and only the
        # finished iterate is collected
        row = (
            t.agg(
                F.round(
                    F.sqrt(F.sum(F.col("t") * F.col("t"))), 6
                ).alias("lam"),
                F.sort_array(F.collect_list(F.struct("pos", "t"))).alias(
                    "ts"
                ),
            )
            .select(
                F.transform(
                    "ts", lambda st: F.round(st["t"] / F.col("lam"), 6)
                ).alias("u"),
                "lam",
            )
            .head()
        )
        u_vals, lam_val = list(row["u"]), float(row["lam"])
    tv = x.agg(
        F.sum(
            F.aggregate(
                F.transform("v", lambda a: a * a),
                F.lit(0.0),
                lambda acc, y: acc + y,
            )
        ).alias("m")
    )
    spark = emb.sparkSession
    comp = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(u_vals)], "pos int, comp double"
    )
    out = (
        comp.crossJoin(F.broadcast(tv))
        .select(
            "pos",
            "comp",
            F.lit(lam_val).alias("lambda"),
            F.round(F.lit(lam_val) / F.col("m"), 6).alias(
                "explained_share"
            ),
        )
        .orderBy("pos")
    )
    x.unpersist()
    return out


def matryoshka_energy(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
    prefix_dims: int,
    min_ratio: float = 0.5,
) -> DataFrame:
    """Matryoshka truncation QC: how much of each vector's energy the
    first ``prefix_dims`` dimensions carry. For MRL-style embeddings
    (arXiv:2205.13147) the cosine between a vector and its
    prefix-truncation is exactly ||v[:d']|| / ||v||, so the energy
    ratio IS the truncation fidelity — computed per row with two
    ordered folds, no shuffle until the per-label rollup.

    Output per label: vector count, mean prefix-energy ratio, how
    many vectors fall below ``min_ratio`` (the ones that would lose
    most from serving the truncated index), and ``n_zero`` — all-zero
    vectors, whose ratio is undefined (0/0). Those are reported
    SEPARATELY rather than folded in: a NaN ratio would poison the
    label mean, and under Spark's NaN-is-greatest ordering it would
    also dodge the below-min counter — the QC table would go blank
    exactly where a failed/padded encode should alarm."""
    full = F.aggregate(
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    prefix = F.aggregate(
        F.transform(
            F.slice(F.col(vec_col), 1, prefix_dims),
            lambda x: x.cast("double") * x.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ratio = F.when(
        full > 0.0, F.round(F.sqrt(prefix) / F.sqrt(full), 6)
    )  # NULL for all-zero vectors: excluded from mean and below-min
    per_vec = emb.select(
        F.col(label_col).alias("label"), ratio.alias("ratio")
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("ratio"), 6).alias("mean_energy_ratio"),
            F.sum(
                F.coalesce(
                    (F.col("ratio") < min_ratio).cast("int"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("n_below_min"),
            F.sum(F.col("ratio").isNull().cast("int"))
            .cast("bigint")
            .alias("n_zero"),
        )
    )


def kcenter_coreset(
    emb: DataFrame,
    *,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center diversity coreset (farthest-point traversal):
    start from the lowest-id vector, then repeatedly add the point
    farthest (max-min squared distance) from everything chosen so
    far — the classic 2-approximation coreset picker for diverse
    seed/eval-set selection.

    Same determinism contract as k-means above: distances are ordered
    element folds rounded 6dp, ties break on the lowest id, so an
    external SQL engine replays the identical pick sequence.

    Execution shape: the greedy argmax is inherently sequential, so
    each of the k rounds is ONE scan of the cached (id, v, mind)
    state — the running min-distance carries forward, never
    recomputed against all chosen centers — and the 1-row argmax is
    COLLECTED to the driver (k bounded rows total), with the picked
    center re-entering the next round's plan as a LITERAL vector.
    Collecting the pick is what pins each round's state cache before
    the next one builds on it; the previous implementation chained
    lazy persists through per-round broadcast joins, and the
    overlapping uncached subtrees re-derived earlier rounds' work
    inside every broadcast — measured 31 s at bench scale vs ~2 s for
    this shape. Total: 2k tiny jobs over a corpus-sized frame that is
    scanned, never shuffled.

    Output: (rank, id, mind) — selection order and each pick's
    separation from the already-chosen set (NULL for the seed).
    """
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    from takuan_zoo.operators.skew import materialize, snapshot

    spark = emb.sparkSession
    id_field = emb.select(id_col).schema.fields[0]
    out_schema = StructType(
        [
            StructField("rank", IntegerType(), False),
            StructField(id_field.name, id_field.dataType, True),
            StructField("mind", DoubleType(), True),
        ]
    )
    base = materialize(
        emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    )
    seed = base.orderBy(id_col).limit(1).head()
    if seed is None:
        base.unpersist()
        return spark.createDataFrame([], out_schema)

    def _lit_vec(vals) -> Column:
        return F.array(*[F.lit(float(x)) for x in vals])

    picks = [(0, seed[id_col], None)]
    # snapshot(eager=False), not materialize: the state chain is
    # loop-carried (round r's frame is a projection over round r-1's),
    # so persists nest one InMemoryRelation per round and re-planning
    # cost grows with k. The LAZY localCheckpoint keeps the original
    # one-action-per-round shape — the argmax head() below both
    # materializes the round's checkpoint and returns the pick — while
    # still cutting each round's plan at a flat LogicalRDD.
    state = snapshot(
        base.select(
            id_col,
            "v",
            _sq_dist(F.col("v"), _lit_vec(seed["v"])).alias("mind"),
        ),
        eager=False,
    )
    for r in range(1, k):
        pick = state.orderBy(F.desc("mind"), id_col).limit(1).head()
        if pick is None:
            break
        picks.append((r, pick[id_col], float(pick["mind"])))
        if r == k - 1:
            # the last pick needs no successor state; skip building a
            # frame nothing reads.
            break
        state = snapshot(
            state.select(
                id_col,
                "v",
                F.least(
                    F.col("mind"),
                    _sq_dist(F.col("v"), _lit_vec(pick["v"])),
                ).alias("mind"),
            ),
            eager=False,
        )
    base.unpersist()
    # snapshot frames hold no cache-manager entry; their checkpoint
    # blocks are released by the ContextCleaner once unreferenced.
    return spark.createDataFrame(picks, out_schema)


def int8_quant_error(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 20,
    calibration_q: float = 1.0,
) -> DataFrame:
    """Per-vector symmetric int8 quantization round-trip error — the
    QC table behind "can we ship this index at 4x less RAM?": scale =
    |x|'s ``calibration_q`` quantile / 127, q = clamp(floor(x/scale +
    0.5), -127, 127), and the reported mse is the reconstruction
    error |x - q*scale|^2 / dim. Returns the ``top_k`` WORST vectors
    (mse desc, id asc) — the review queue, not the full corpus.

    ``calibration_q = 1.0`` calibrates on the absolute max — then
    clipping is impossible BY CONSTRUCTION (|x|/scale <= 127) and
    n_clipped is structurally zero. Production int8 pipelines
    calibrate on a sub-max quantile (e.g. 0.95) precisely so a few
    outlier components clip in exchange for finer resolution
    everywhere else; at sub-max calibration n_clipped is the real
    alarm for vectors whose tails carry too much mass to clip away.
    The quantile is nearest-rank (sorted |x| at index
    floor(q * dim), 1-based) — pure integer indexing, identical in
    any engine.

    Cross-engine determinism: every per-vector number is an ordered
    element fold (array order, not partition order), rounding is
    ``floor(x + 0.5)`` (identical everywhere) rather than the
    engine-specific ``round``-to-int tie rule, and only the final mse
    / scale round at 6dp. No cross-row float aggregation exists at
    all, so partial-aggregation order can't move a bit. One scan +
    one TakeOrdered(top_k): embarrassingly parallel at any corpus
    size.

    The scale is computed in its OWN projection before the
    per-element lambdas: higher-order functions re-evaluate every
    subexpression per element, so an inline scale (which contains an
    O(dim) array_max) would turn the row's work quadratic in dim —
    measured 3.4 s vs ~1 s at bench scale."""
    v0 = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    sorted_abs = F.array_sort(F.transform(F.col("v"), F.abs))
    cal_idx = F.greatest(
        F.lit(1),
        F.floor(F.lit(calibration_q) * F.size("v")).cast("int"),
    )
    cal = F.element_at(sorted_abs, cal_idx)
    # the working column is "_scale", NOT "scale": the output select
    # below aliases its ROUNDED form to "scale", and Spark's implicit
    # lateral-column-alias resolution makes sibling expressions in
    # that select resolve a same-named reference to the new alias —
    # the quantization would silently run on the 6dp-rounded scale
    # while an external mirror uses the exact one (observed: 103/500
    # vectors off by 1e-6 at the gate scale).
    scaled = v0.withColumn(
        "_scale",
        F.when(cal > 0.0, cal / F.lit(127.0)).otherwise(F.lit(1.0)),
    )
    s = F.col("_scale")
    q = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / s + F.lit(0.5))),
        ),
    )
    sq = F.aggregate(
        F.zip_with(
            F.col("v"),
            q,
            lambda x, qi: (x - qi * s) * (x - qi * s),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    n_clip = F.size(
        F.filter(
            F.col("v"), lambda x: F.abs(F.floor(x / s + F.lit(0.5))) > 127
        )
    )
    per = scaled.select(
        F.col(id_col),
        F.round(s, 6).alias("scale"),
        n_clip.cast("int").alias("n_clipped"),
        F.round(sq / F.size("v"), 6).alias("mse"),
    )
    return per.orderBy(F.desc("mse"), id_col).limit(top_k)
