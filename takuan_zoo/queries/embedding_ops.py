"""Embedding clustering / shaping queries (operators/clustering.py):
deterministic Lloyd k-means, class rebalancing, vector QC."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import clustering
from takuan_zoo.queries import query

_K = 8
_DIM = 64

#: shared CTE chain: deterministic seeds (k lowest vec_ids), one
#: assignment, one refit (means rounded 6dp), final assignment — the
#: exact trajectory of clustering.kmeans_assignments(k=8, iters=1).
_SQ = "x -> (x[1] - x[2]) * (x[1] - x[2])"
_KMEANS_CTE = f"""
    emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                   AS cid, v AS cv
        FROM (SELECT * FROM emb ORDER BY vec_id LIMIT {_K})
    ),
    d1 AS (
        SELECT e.vec_id, c.cid,
               ROUND(list_sum(list_transform(list_zip(e.v, c.cv),
                                             {_SQ})), 6) AS d
        FROM emb e CROSS JOIN c0 c
    ),
    a1 AS (
        SELECT vec_id, cid AS cluster, d
        FROM (SELECT vec_id, cid, d,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d, cid) AS rn
              FROM d1)
        WHERE rn = 1
    ),
    m1 AS (
        SELECT a.cluster AS cid, g.i AS pos, ROUND(AVG(e.v[g.i]), 6) AS mv
        FROM a1 a JOIN emb e USING (vec_id),
             UNNEST(generate_series(1, {_DIM})) AS g(i)
        GROUP BY 1, 2
    ),
    c1 AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM m1 GROUP BY cid),
    d2 AS (
        SELECT e.vec_id, c.cid,
               ROUND(list_sum(list_transform(list_zip(e.v, c.cv),
                                             {_SQ})), 6) AS d
        FROM emb e CROSS JOIN c1 c
    ),
    a2 AS (
        SELECT vec_id, cid AS cluster, d
        FROM (SELECT vec_id, cid, d,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d, cid) AS rn
              FROM d2)
        WHERE rn = 1
    )
"""


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


@query(
    "ns_kmeans_assign",
    f"""
    WITH {_KMEANS_CTE}
    SELECT vec_id, cluster, d AS dist FROM a2 ORDER BY vec_id
    """,
    "Deterministic Lloyd k-means (k=8, seeds = lowest-id vectors, one "
    "refit), per-vector assignment: broadcast k centroids, ORDERED "
    "element-fold squared distance rounded 6dp, argmin by min-struct "
    "hash aggregate (map-side combined, no per-vector sort); the refit "
    "shuffles one partial mean per (cluster, dim) per partition — "
    "corpus-size independent. No driver-side centroid collect "
    "anywhere; the whole trajectory is one lazy plan.",
)
def ns_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = clustering.kmeans_assignments(
        _emb(spark, sf_dir), k=_K, iters=1
    )
    return out.select("vec_id", "cluster", F.col("dist")).orderBy("vec_id")


@query(
    "ns_kmeans_clusters",
    f"""
    WITH {_KMEANS_CTE}
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(d), 4) AS mean_dist,
           ROUND(MAX(d), 4) AS max_dist
    FROM a2 GROUP BY cluster ORDER BY cluster
    """,
    "Cluster profile of the same deterministic k-means run: size, mean "
    "and max squared distance per cluster — the inertia diagnostic "
    "that decides k. One extra map-side-combined aggregate over the "
    "assignment frame.",
)
def ns_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = clustering.kmeans_assignments(
        _emb(spark, sf_dir), k=_K, iters=1
    )
    return (
        out.groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg("dist"), 4).alias("mean_dist"),
            F.round(F.max("dist"), 4).alias("max_dist"),
        )
        .orderBy("cluster")
    )


@query(
    "ns_class_rebalance",
    """
    WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
    m AS (SELECT MAX(n) AS mx FROM c),
    f AS (SELECT label, CAST((mx + n - 1) // n AS INT) AS factor
          FROM c, m)
    SELECT e.vec_id, e.label, CAST(g.i AS INT) AS copy
    FROM embeddings e
    JOIN f USING (label),
         UNNEST(generate_series(1, f.factor)) AS g(i)
    ORDER BY vec_id, copy
    """,
    "Minority-class oversampling to parity: each row replicates "
    "ceil(max_class / class) times (integer math, no float boundary) "
    "via explode(sequence) — the blow-up happens row-locally in the "
    "executors; the only exchange is the broadcast of the per-label "
    "factor table.",
)
def ns_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = clustering.class_rebalance(_emb(spark, sf_dir))
    return out.select(
        "vec_id", "label", F.col("copy").cast("int").alias("copy")
    ).orderBy("vec_id", "copy")


@query(
    "ns_embedding_qc",
    """
    WITH per AS (
        SELECT label,
               ROUND(sqrt(list_sum(list_transform(
                   CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS nrm,
               len(list_filter(CAST(embedding AS DOUBLE[]),
                               x -> isnan(x))) > 0 AS bad_nan,
               len(list_filter(CAST(embedding AS DOUBLE[]),
                               x -> x <> 0)) = 0 AS zero,
               len(embedding) <> 64 AS bad_dim
        FROM embeddings
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN bad_dim THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bad_dim,
           CAST(SUM(CASE WHEN bad_nan THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nan,
           CAST(SUM(CASE WHEN zero THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
           CAST(SUM(CASE WHEN NOT bad_nan AND nrm < 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_low,
           CAST(SUM(CASE WHEN NOT bad_nan AND nrm > 2.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_high,
           ROUND(AVG(CASE WHEN NOT bad_nan THEN nrm END), 4) AS mean_norm
    FROM per GROUP BY label ORDER BY label
    """,
    "Vector QC gate per label: wrong-dimension / NaN / all-zero / "
    "out-of-band-norm counts plus mean norm — the validation row an "
    "embedding pipeline checks before indexing. Single narrow pass, "
    "one map-side-combined aggregate; norms round 6dp pre-aggregation.",
)
def ns_embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering.embedding_qc(_emb(spark, sf_dir), dim=_DIM).orderBy(
        "label"
    )


@query(
    "ns_pca_power_iteration",
    f"""
    WITH e AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s1 AS (
        SELECT v, list_sum(list_transform(v, x -> x * 0.125)) AS s FROM e
    ),
    t1 AS (
        SELECT g.i AS pos, ROUND(SUM(v[g.i] * s), 6) AS t
        FROM s1, UNNEST(generate_series(1, {_DIM})) AS g(i)
        GROUP BY 1
    ),
    n1 AS (SELECT ROUND(sqrt(SUM(t * t)), 6) AS n FROM t1),
    u1 AS (
        SELECT list(ROUND(t / n, 6) ORDER BY pos) AS u FROM t1, n1
    ),
    s2 AS (
        SELECT e.v,
               list_sum(list_transform(list_zip(e.v, u1.u),
                                       x -> x[1] * x[2])) AS s
        FROM e, u1
    ),
    t2 AS (
        SELECT g.i AS pos, ROUND(SUM(v[g.i] * s), 6) AS t
        FROM s2, UNNEST(generate_series(1, {_DIM})) AS g(i)
        GROUP BY 1
    ),
    lam AS (SELECT ROUND(sqrt(SUM(t * t)), 6) AS l FROM t2),
    tv AS (
        SELECT SUM(list_sum(list_transform(v, x -> x * x))) AS m FROM e
    )
    SELECT CAST(t2.pos AS INTEGER) AS pos,
           ROUND(t2.t / lam.l, 6) AS comp,
           lam.l AS lambda,
           ROUND(lam.l / tv.m, 6) AS explained_share
    FROM t2, lam, tv
    ORDER BY pos
    """,
    "Top principal direction by deterministic power iteration (2 "
    "rounds from the uniform unit start, 6dp handoffs): each round is "
    "X^T(Xu) — a codegen'd per-row dot product and ONE dim-sized "
    "aggregate — so the Gram matrix is never materialized and the "
    "shuffle carries dim partials per partition regardless of corpus "
    "size. Output: the 64 component loadings, the top-eigenvalue "
    "estimate, and its share of total corpus energy.",
)
def ns_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clustering.power_iteration_top_component(
        _emb(spark, sf_dir), dim=_DIM, iters=2
    )


@query(
    "ns_matryoshka_qc",
    """
    WITH r AS (
        SELECT label,
               CASE WHEN list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
               THEN ROUND(
                   sqrt(list_sum(list_transform(embedding[1:16],
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   / sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                   6) END AS ratio
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(ratio), 6) AS mean_energy_ratio,
           CAST(SUM(CASE WHEN ratio < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below_min,
           CAST(SUM(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero
    FROM r
    GROUP BY label
    ORDER BY label
    """,
    "Matryoshka truncation QC (arXiv:2205.13147): the cosine between "
    "a vector and its 16-dim prefix truncation equals the prefix's "
    "energy ratio ||v[:16]|| / ||v||, so serving fidelity of a "
    "truncated index is a per-row ordered fold — no pairwise math at "
    "all. Rollup per label: mean ratio and how many vectors fall "
    "below 0.5 (the ones a truncated index would hurt most). Pure "
    "projection + one label-keyed aggregate at any corpus size.",
)
def ns_matryoshka_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.matryoshka_energy(
        emb, prefix_dims=16, min_ratio=0.5
    ).orderBy("label")


def _kcenter_oracle(k: int = 8) -> str:
    """Unrolled greedy k-center trajectory: pick r is the argmax of
    the running min-distance after r-1 centers (same 6dp rounding and
    lowest-id tiebreak as the Spark operator)."""
    d = (
        "ROUND(list_sum(list_transform(list_zip(e.v, c.cv), "
        "x -> (x[1] - x[2]) * (x[1] - x[2]))), 6)"
    )
    ctes = [
        "emb2 AS (\n        SELECT vec_id, CAST(embedding AS DOUBLE[])"
        " AS v FROM embeddings\n    )",
        "c0 AS (\n        SELECT vec_id AS cid, v AS cv FROM emb2"
        " ORDER BY vec_id LIMIT 1\n    )",
        f"m0 AS (\n        SELECT e.vec_id, e.v, {d} AS mind\n"
        "        FROM emb2 e CROSS JOIN c0 c\n    )",
    ]
    for r in range(1, k):
        ctes.append(
            f"p{r} AS (\n        SELECT vec_id, v, mind FROM m{r - 1}\n"
            "        ORDER BY mind DESC, vec_id LIMIT 1\n    )"
        )
        if r < k - 1:
            ctes.append(
                f"m{r} AS (\n        SELECT e.vec_id, e.v,"
                f" LEAST(e.mind, {d}) AS mind\n"
                f"        FROM m{r - 1} e CROSS JOIN"
                f" (SELECT v AS cv FROM p{r}) c\n    )"
            )
    selects = [
        "SELECT 0 AS rank, cid AS vec_id, CAST(NULL AS DOUBLE) AS mind"
        " FROM c0"
    ] + [
        f"SELECT {r} AS rank, vec_id, mind FROM p{r}" for r in range(1, k)
    ]
    return (
        "    WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY rank"
    )


@query(
    "ns_kcenter_coreset",
    _kcenter_oracle(8),
    "Greedy k-center diversity coreset (farthest-point traversal, "
    "k=8): seed at the lowest id, then repeatedly add the vector with "
    "the maximum running min-distance to the chosen set — the classic "
    "2-approximation coreset picker for diverse seed/eval selection. "
    "Each round is one scan against ONE broadcast center (the running "
    "min-distance carries forward, never recomputed against all "
    "chosen) plus a 1-row TakeOrdered argmax, so cost is k linear "
    "scans at any corpus size. 6dp distance handoffs + lowest-id "
    "tiebreaks make the full pick trajectory engine-reproducible.",
)
def ns_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.kcenter_coreset(emb, k=8).orderBy("rank")


@query(
    "ns_int8_quant_error",
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
    ),
    s AS (
        SELECT vec_id, x,
               CASE WHEN cal > 0 THEN cal / 127.0 ELSE 1.0 END AS scale
        FROM (
            SELECT vec_id, x,
                   list_sort(list_transform(x, e -> ABS(e)))[
                       greatest(1, CAST(floor(0.95 * len(x)) AS INT))
                   ] AS cal
            FROM v
        )
    ),
    q AS (
        SELECT vec_id, scale, x,
               len(list_filter(
                   x, e -> ABS(FLOOR(e / scale + 0.5)) > 127)) AS n_clipped,
               list_transform(
                   x, e -> GREATEST(-127.0,
                                    LEAST(127.0, FLOOR(e / scale + 0.5)))
               ) AS qv
        FROM s
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           CAST(n_clipped AS INT) AS n_clipped,
           ROUND(list_sum(list_transform(
                     list_zip(x, qv),
                     p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale)))
                 / len(x), 6) AS mse
    FROM q
    ORDER BY mse DESC, vec_id
    LIMIT 20
    """,
    "Symmetric int8 quantization round-trip QC with sub-max "
    "calibration (scale = 95th-percentile |x| / 127, nearest-rank): "
    "outlier components genuinely CLIP — n_clipped is a live alarm, "
    "not a structurally-zero column (absmax calibration makes "
    "clipping impossible by construction) — in exchange for finer "
    "resolution on the body of the distribution, the standard "
    "production trade. Worst-20 review queue by reconstruction MSE. "
    "Deterministic "
    "across engines because rounding is floor(x+0.5) (no "
    "engine-specific tie rule), error is an ordered element fold, and "
    "NOTHING aggregates floats across rows — one scan plus a "
    "TakeOrdered(20).",
)
def ns_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.int8_quant_error(emb, top_k=20, calibration_q=0.95)


# --------------------------------------------------------- bitext mining

_BTX_NLIST = 16
_BTX_K = 2
_BTX_TOPN = 20
_BTX_MAXCELL = 64


def _bitext_sql() -> str:
    from takuan_zoo.operators import similarity as _sim
    from takuan_zoo.queries.northstar import _sql_list

    cents = _sim.fixed_centroids(_DIM, nlist=_BTX_NLIST, seed=777)
    cent_rows = ", ".join(
        f"({j}, CAST({_sql_list(c)} AS DOUBLE[]))" for j, c in enumerate(cents)
    )
    return f"""
    WITH cents(cell, cv) AS (SELECT * FROM (VALUES {cent_rows}) v(cell, cv)),
    emb AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dots AS (
        SELECT e.vec_id, c.cell,
               ROUND(list_dot_product(e.v, c.cv), 6) AS d
        FROM emb e CROSS JOIN cents c
    ),
    assign0 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, cell) AS rn
            FROM dots
        ) WHERE rn = 1
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY cell, vec_id % 2
                                      ORDER BY vec_id) AS cr
            FROM assign0
        ) WHERE cr <= {_BTX_MAXCELL}
    ),
    nv AS (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_sum(
                   list_transform(v, z -> z * z)))) AS nv
        FROM emb
    ),
    pairs AS (
        SELECT xa.vec_id AS x_id, ya.vec_id AS y_id,
               ROUND(list_sum(list_transform(list_zip(xn.nv, yn.nv),
                        p -> p[1] * p[2])), 6) AS sim
        FROM assign xa
        JOIN nv xn ON xn.vec_id = xa.vec_id
        JOIN assign ya ON ya.cell = xa.cell AND ya.vec_id % 2 = 1
        JOIN nv yn ON yn.vec_id = ya.vec_id
        WHERE xa.vec_id % 2 = 0
    ),
    kx AS (
        SELECT x_id, ROUND(AVG(sim), 6) AS avgk_x FROM (
            SELECT x_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY x_id
                                      ORDER BY sim DESC, y_id) AS rn
            FROM pairs
        ) WHERE rn <= {_BTX_K} GROUP BY x_id
    ),
    ky AS (
        SELECT y_id, ROUND(AVG(sim), 6) AS avgk_y FROM (
            SELECT y_id, sim,
                   ROW_NUMBER() OVER (PARTITION BY y_id
                                      ORDER BY sim DESC, x_id) AS rn
            FROM pairs
        ) WHERE rn <= {_BTX_K} GROUP BY y_id
    )
    SELECT x_id, y_id, sim,
           ROUND(sim / ((avgk_x + avgk_y) / 2), 4) AS margin
    FROM pairs JOIN kx USING (x_id) JOIN ky USING (y_id)
    WHERE (avgk_x + avgk_y) / 2 > 0
    ORDER BY margin DESC, x_id, y_id
    LIMIT {_BTX_TOPN}
    """


@query(
    "ns_bitext_mining",
    _bitext_sql(),
    "Margin-based bitext mining (Artetxe & Schwenk 2019, "
    "bidirectional ratio): even vec_ids are the source corpus, odd "
    "the target; each within-cell candidate pair is scored by cosine "
    "DIVIDED by the mean of both endpoints' average top-2 within-cell "
    "cosines — the margin that cancels "
    "hubness, which a raw cosine threshold cannot. Candidates come "
    "only from the fixed IVF quantizer's cells (the SemDeDup "
    "discipline: quadratic work per cell, never corpus-wide; cells "
    "are the shard grain at 100 TB) with a max_cell=64 per-side "
    "participant cap — the max_df/max_bucket discipline for cells, "
    "bounding the worst block at 64x64 (uncapped, the 10x probe "
    "measured 22x). Scoring is codegen'd dot_unrolled on unit "
    "vectors with the oracle's exact fold order. Returns the top-20 "
    "mined pairs by margin.",
)
def ns_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.bitext_margin_mining(
        emb,
        nlist=_BTX_NLIST,
        k=_BTX_K,
        top_n=_BTX_TOPN,
        max_cell=_BTX_MAXCELL,
    )
