"""Graph analytics over engine-derived edge lists (SURVEY.md §2.2).

Training-corpus pipelines keep meeting graphs: the near-dup pair graph
(whose connected components `operators/dedup.py` already collapses),
item co-occurrence graphs, and link/citation graphs whose PageRank is a
classic corpus-quality prior. This module adds the two standard
non-CC primitives — triangle/clustering statistics and PageRank — as
pure DataFrame compositions.

Scale shapes:

- **Edge discovery** (:func:`cooccurrence_edges`) self-joins on the
  group key — both sides hash-partition on that one key, and per-group
  expansion is bounded by group size (an order's line count, a doc's
  shingle window), never corpus-quadratic. The pair aggregation
  shuffles 16-byte (u, v) keys.
- **Triangles** (:func:`triangle_stats`) use the degree-ordered
  orientation (node-iterator++): every edge points from the lower
  (degree, id) endpoint to the higher, so a wedge is enumerated exactly
  once from its lowest-ranked corner and the per-node fan-out is
  bounded by out-degree under orientation — O(m^1.5) worst case, far
  below naive wedge counting on skewed graphs. All joins are
  equi-joins on node ids; the closing-edge check is a semi-join.
- **PageRank** (:func:`pagerank`) keeps rank state as a (node, pr)
  frame co-partitioned with the edge list's src key; each iteration is
  one join + one aggregation, materialized per round (the CC pointer-
  jumping discipline, `operators/dedup.py`) so lineage stays flat. The
  node count enters as a broadcast one-row aggregate — no driver-side
  count.

The reference has no graph surface (its aggregation stops at per-key
counters, core/aggregator.go); this is north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from takuan_zoo.operators.skew import snapshot

#: Oracle-SQL-side rank key encoding: degree * RANK_BASE + node id — one
#: bigint totally ordering (degree, id) pairs for INTEGRAL ids < RANK_BASE
#: (the oracle queries' domain; part keys top out far below 1e9). The
#: engine side does NOT use this encoding: ``_oriented`` ranks by a
#: ``struct(degree, id)`` key, which Spark orders lexicographically, so
#: string ids (``cooccurrence_edges`` legitimately emits them) and ids
#: >= RANK_BASE order correctly with no overflow/collision precondition.
#: The two orders coincide exactly on the oracle's integral domain.
RANK_BASE = 1_000_000_000

#: PageRank constants, embedded as the same literals in oracle SQL.
DAMPING = 0.85
RESET = 0.15


def cooccurrence_edges(
    items: DataFrame,
    *,
    group_col: str,
    item_col: str,
    min_count: int = 2,
) -> DataFrame:
    """Undirected co-occurrence edges (u < v, weight = number of groups
    containing both) between items that share at least ``min_count``
    groups. Distinct-per-group first, so multiplicity inside one group
    (two lineitems of the same part in one order) does not inflate the
    weight."""
    occ = items.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("u")
    ).distinct()
    right = occ.select(F.col("g"), F.col("u").alias("v"))
    return (
        occ.join(right, "g")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= min_count)
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, d): undirected degree from a (u, v) edge list with u < v
    and no duplicate edges."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def _oriented(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each edge from lower to higher (degree, id) rank:
    (src, dst, kd) where kd is the dst's rank key — a struct(degree, id)
    compared lexicographically, so any orderable id type (bigint OR
    string) works and there is no magnitude precondition."""
    e = (
        edges.select("u", "v")
        .join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    return e.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(ku < kv, kv).otherwise(ku).alias("kd"),
    )


def _enumerate_triangles(edges: DataFrame):
    """Shared degree-ordered triangle enumeration: returns
    ``(edges, deg, tri)`` where ``tri`` is one row per triangle
    (corner columns ``w``, ``x``, ``y``), each triangle materialized
    exactly once from its lowest-rank vertex. Both the global stats
    and the per-node coefficients consume THIS — a second copy of the
    wedge/closing construction would let the two triangle counts
    silently drift apart under a future orientation fix.

    All three frames are snapshotted (localCheckpoint, see
    skew.snapshot): edges feeds degrees, orientation, and count
    aggregates (no exchange reuse across branches), deg feeds the
    wedge aggregate and both orientation joins, and the oriented frame
    self-joins. With plain persist, the concurrent AQE query stages
    that consume a still-cold cache each rebuilt it independently
    (measured on the sibling wedge consumers in the r12 profiles);
    the eager checkpoint runs each derivation exactly once."""
    edges = snapshot(edges.select("u", "v"))
    deg = snapshot(degrees(edges))
    o = snapshot(_oriented(edges, deg))
    a, b = o.alias("a"), o.alias("b")
    wedges = a.join(
        b,
        (F.col("a.src") == F.col("b.src")) & (F.col("a.kd") < F.col("b.kd")),
    ).select(
        F.col("a.src").alias("w"),
        F.col("a.dst").alias("x"),
        F.col("b.dst").alias("y"),
    )
    closing = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    return edges, deg, tri


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One-row global graph statistics: n_nodes, n_edges, n_wedges
    (sum of d*(d-1)/2 — exact integer), n_triangles via degree-ordered
    enumeration, and the global clustering coefficient
    3 * triangles / wedges rounded to 6dp."""
    edges, deg, tri = _enumerate_triangles(edges)
    node_stats = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum((F.col("d") * (F.col("d") - 1) / F.lit(2)).cast("long"))
        .cast("bigint")
        .alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    tri_stats = tri.agg(F.count("*").cast("bigint").alias("n_triangles"))
    return (
        node_stats.crossJoin(F.broadcast(edge_stats))
        .crossJoin(F.broadcast(tri_stats))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank, a FIXED number of synchronous iterations from
    the uniform start — deterministic, so the result is reproducible by
    an oracle that chains the same number of CTE steps. Returns
    (node, pr) with pr rounded to 6dp.

    Dangling nodes (appearing only as destinations) keep receiving the
    reset mass but redistribute nothing — the standard simplification;
    with a fixed iteration count the result is still well-defined and
    identical in both engines."""
    # the edge frame feeds the node union (twice), the out-strength
    # aggregate, and the rate projection — snapshot so a derived
    # edge list (a window + aggregation upstream) computes once AND the
    # per-iteration plans stay flat (see snapshot's docstring; the
    # loop-carried pr below would otherwise nest one InMemoryRelation
    # per iteration).
    e = snapshot(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        )
    )
    nodes = snapshot(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_row = F.broadcast(nodes.agg(F.count("*").cast("double").alias("n")))
    out_w = e.groupBy("src").agg(F.sum("w").alias("ow"))
    # contribution rate per edge is loop-invariant: w / out-strength.
    rated = snapshot(
        e.join(out_w, "src").select(
            "src", "dst", (F.col("w") / F.col("ow")).alias("rate")
        )
    )
    pr = nodes.crossJoin(n_row).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            pr.join(rated, pr["node"] == rated["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("rate")).alias("c"))
        )
        pr = snapshot(
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(n_row)
            .select(
                "node",
                (
                    F.lit(RESET) / F.col("n")
                    + F.lit(DAMPING) * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select("node", F.round("pr", 6).alias("pr"))


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient: triangles through the
    node over its possible wedges d*(d-1)/2 — the node-level cohesion
    signal (communities score high, hubs and bridges low).

    Same degree-ordered enumeration as :func:`triangle_stats` (each
    triangle materializes exactly once, from its lowest-rank vertex),
    then each triangle credits its three corners via a 3-row explode —
    so per-node counting costs one extra narrow explode + aggregate
    over the (small) triangle set, not a second wedge join. Nodes of
    degree < 2 have no possible wedge and report lcc = 0.

    Output: (node, degree, n_tri, lcc), lcc rounded 6dp.
    """
    edges, deg, tri = _enumerate_triangles(edges)
    corner_counts = (
        tri.select(
            F.explode(F.array(F.col("w"), F.col("x"), F.col("y"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    possible = (F.col("d") * (F.col("d") - 1) / F.lit(2)).cast("long")
    return (
        deg.join(corner_counts, "node", "left")
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.coalesce("n_tri", F.lit(0)) / possible, 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def label_propagation(
    edges: DataFrame,
    *,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection over an
    undirected (u, v) edge list (u < v, deduplicated): every node
    starts as its own label; each round, every node adopts the MOST
    FREQUENT label among its neighbors, ties to the smallest label —
    the classic near-linear community detector (Raghavan et al. 2007).
    Deterministic by construction: synchronous updates + a total
    tiebreak order, so the result is a pure function of the graph (the
    async/random variant converges faster but is irreproducible —
    wrong trade for a data pipeline). Returns (node, label) after
    ``rounds`` rounds.

    Scale shape: each round is one shuffle — join labels to the
    symmetric edge list on the source endpoint (label frames stay
    (node, label) slim), count (dst, label) occupancy, one argmax
    window per node. Cost per round ~ O(E) rows through 2 exchanges;
    rounds is a small constant. Isolated nodes never appear in an
    edge list; callers wanting them keep-as-own-label can union them
    in afterwards."""
    # the symmetric edge list feeds EVERY round's join plus the initial
    # label distinct — the physical plan prints the edge-discovery
    # subtree once per round (32 parquet scans at 3 rounds), but
    # ReuseExchange dedups the identical exchanges inside the single
    # action, so an explicit snapshot/persist here was MEASURED SLOWER
    # (4.0 s lazy vs 4.6 s snapshotted at sf0.1): the eager cut pays a
    # real extra job while the "recompute" it saves is mostly shared
    # already. Left lazy deliberately.
    sym = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    for _ in range(rounds):
        neigh = (
            sym.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            neigh.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels


def kcore_peel(
    edges: DataFrame, *, k: int = 3, rounds: int = 3
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    deleting nodes with degree < ``k`` (and their edges), then the
    surviving (node, degree) list. Fixed-round semantics — this is the
    deterministic, oracle-expressible prefix of full k-core
    decomposition (which iterates to fixpoint); community/spam cores
    stabilize in a handful of rounds on real graphs.

    Each round is degrees → keep-set → two semi-joins, all keyed by
    node/endpoint — shuffle-partitioned, no driver state. The
    surviving edge set is MATERIALIZED per round: lazily chained, each
    round's plan would re-derive every prior round twice through the
    two semi-join branches (the power-iteration recompute lesson,
    PLANS.md r5)."""
    from takuan_zoo.operators.skew import snapshot

    # the input edge set feeds round 1's degree aggregate AND both
    # semi-join branches; materialized so an expensive upstream edge
    # discovery executes once, not three times — and snapshot() rather
    # than materialize(): per-round persists nest InMemoryRelations and
    # the re-analysis/AQE cost grows with rounds (measured 6.5 s →
    # 3.0 s at sf0.1 on the checkpointed form, identical results; see
    # snapshot's docstring). The per-round keep set is deliberately NOT
    # persisted: re-aggregating degrees over the materialized edge
    # frame is one cheap pass per branch, while persisting inserts a
    # job barrier per round — measured strictly worse at every tested
    # scale.
    cur = snapshot(edges)
    for _ in range(rounds):
        keep = degrees(cur).where(F.col("d") >= k).select("node")
        cur = snapshot(
            cur.join(
                keep.select(F.col("node").alias("u")), "u", "left_semi"
            ).join(
                keep.select(F.col("node").alias("v")), "v", "left_semi"
            )
        )
    return degrees(cur).select(
        "node", F.col("d").cast("bigint").alias("degree")
    )


def kcore_peel_sql(edges_cte: str, *, k: int = 3, rounds: int = 3) -> str:
    """DuckDB mirror of :func:`kcore_peel`: the fixed rounds unrolled
    as chained CTEs over an ``e`` edge relation provided by
    ``edges_cte`` (must define CTE ``e(u, v, ...)``)."""
    steps = []
    prev = "e"
    for r in range(1, rounds + 1):
        steps.append(f"""
    d{r} AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM {prev}
            UNION ALL SELECT v FROM {prev}
        ) GROUP BY node
    ),
    keep{r} AS (SELECT node FROM d{r} WHERE d >= {k}),
    e{r} AS (
        SELECT {prev}.* FROM {prev}
        JOIN keep{r} ka ON {prev}.u = ka.node
        JOIN keep{r} kb ON {prev}.v = kb.node
    )""")
        prev = f"e{r}"
    return f"""
    WITH {edges_cte},
    {",".join(steps)}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev}
    ) GROUP BY node
    """


#: Hub cap for link-prediction wedge centers: a center of degree d
#: spawns d^2/2 wedges, so hubs above this degree never enumerate
#: (the max_df/max_bucket discipline applied to graphs). Shared with
#: the oracle SQL so both engines prune identically.
LP_MAX_CENTER_DEGREE = 64


def link_prediction(
    edges: DataFrame,
    *,
    max_center_degree: int = LP_MAX_CENTER_DEGREE,
    k: int = 20,
) -> DataFrame:
    """Common-neighbor Jaccard link prediction: score non-adjacent node
    pairs by |N(a) & N(b)| / |N(a) | N(b)| and return the top ``k``
    candidate links (deterministic total order: score desc, a, b).

    Scale shape: candidate pairs are enumerated as WEDGES through a
    shared neighbor, so only nodes at distance 2 ever meet — never
    all-pairs. Wedge count is sum(d(x)^2) over centers, so hubs are
    capped: only centers with degree <= ``max_center_degree`` spawn
    wedges (the same stop-key discipline as max_df/max_bucket in the
    dedup family). Common-neighbor counts are therefore a lower bound
    when a pair's only shared neighbors are hubs — the documented
    dropped-mass contract; endpoint degrees in the denominator stay
    exact. One wedge self-join + one count aggregate + an anti-join
    against the edge set; top-k is TakeOrderedAndProject.
    """
    # snapshot, not materialize: five downstream AQE query stages
    # consume this frame concurrently, and a cold persist is built
    # independently by each concurrent stage (measured: 5 x 64-task
    # stages at 11-14 core-s each over a 0.1 MB edge frame in the
    # r12 profile); the eager checkpoint runs the edge discovery
    # exactly once before the consumers launch.
    e = snapshot(edges.select("u", "v"))
    adj = e.select(F.col("u").alias("x"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("x"), F.col("u").alias("n"))
    )
    deg = adj.groupBy(F.col("x").alias("node")).agg(
        F.count("*").alias("d")
    )
    centers = deg.where(F.col("d") <= max_center_degree).select(
        F.col("node").alias("x")
    )
    cadj = adj.join(centers, "x")
    left = cadj.select("x", F.col("n").alias("a"))
    right = cadj.select("x", F.col("n").alias("b"))
    cn = (
        left.join(right, "x")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    cand = (
        cn.join(
            e.select(F.col("u").alias("a"), F.col("v").alias("b")),
            ["a", "b"],
            "left_anti",
        )
        .join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    return (
        cand.select(
            "a",
            "b",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn") * 1.0 / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "a", "b")
        .limit(k)
    )


def adamic_adar(
    edges: DataFrame,
    *,
    max_center_degree: int = LP_MAX_CENTER_DEGREE,
    k: int = 20,
) -> DataFrame:
    """Adamic-Adar link prediction: score non-adjacent pairs by
    sum(1/ln(deg(z))) over shared neighbors z — the weighted sibling of
    :func:`link_prediction` (rare shared neighbors count more than
    hubs). Same wedge shape and hub cap; the center's degree rides the
    wedge row, so the score is one conditional-sum aggregate. A center
    inside a wedge always has degree >= 2 (it needs two neighbors to
    form the pair), so ln(deg) is never 0. Scores round to 4 decimals
    (sum order jitter ~1e-15 of terms <= 1/ln 2)."""
    # snapshot for the same concurrent-stage reason as link_prediction.
    e = snapshot(edges.select("u", "v"))
    adj = e.select(F.col("u").alias("x"), F.col("v").alias("n")).unionAll(
        e.select(F.col("v").alias("x"), F.col("u").alias("n"))
    )
    deg = adj.groupBy(F.col("x").alias("node")).agg(
        F.count("*").alias("d")
    )
    centers = deg.where(F.col("d") <= max_center_degree).select(
        F.col("node").alias("x"), F.col("d").alias("dx")
    )
    cadj = adj.join(centers, "x")
    left = cadj.select("x", "dx", F.col("n").alias("a"))
    right = cadj.select("x", F.col("n").alias("b"))
    scored = (
        left.join(right, "x")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("common_neighbors"),
            F.round(
                F.sum(1.0 / F.log(F.col("dx").cast("double"))), 4
            ).alias("aa_score"),
        )
    )
    return (
        scored.join(
            e.select(F.col("u").alias("a"), F.col("v").alias("b")),
            ["a", "b"],
            "left_anti",
        )
        .orderBy(F.desc("aa_score"), "a", "b")
        .limit(k)
    )
