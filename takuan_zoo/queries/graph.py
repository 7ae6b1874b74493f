"""Graph-analytics queries: triangle/clustering statistics over the
part co-purchase graph, and PageRank over the event-type transition
graph (the corpus-quality prior shape: heavy parallel edge aggregation
feeding a small fixed-iteration rank loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import graph
from takuan_zoo.queries import query

_EDGES_CTE = """
    occ AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS u FROM lineitem),
    e AS (
        SELECT a.u AS u, b.u AS v
        FROM occ a JOIN occ b ON a.g = b.g AND a.u < b.u
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
"""


def _pagerank_sql(iters: int) -> str:
    """Chained-CTE PageRank mirror: p0 is uniform, each p{i} applies one
    synchronous update with the same 0.15/0.85 literals as the Spark
    plan."""
    steps = []
    prev = "p0"
    for i in range(1, iters + 1):
        steps.append(f"""
    p{i} AS (
        SELECT nodes.node,
               {graph.RESET!r} / (SELECT n FROM nn)
               + {graph.DAMPING!r} * COALESCE(c.s, 0) AS pr
        FROM nodes LEFT JOIN (
            SELECT r.dst AS node, SUM(p.pr * r.rate) AS s
            FROM {prev} p JOIN rated r ON r.src = p.node
            GROUP BY 1
        ) c USING (node)
    )""")
        prev = f"p{i}"
    return f"""
    WITH seq AS (
        SELECT user_id, event_type AS et,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    e AS (
        SELECT prev AS src, et AS dst, CAST(COUNT(*) AS DOUBLE) AS w
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    rated AS (
        SELECT e.src, e.dst, e.w / o.ow AS rate
        FROM e JOIN (SELECT src, SUM(w) AS ow FROM e GROUP BY 1) o
          ON o.src = e.src
    ),
    p0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
    {",".join(steps).lstrip()}
    SELECT node, ROUND(pr, 6) AS pr FROM {prev} ORDER BY node
    """


@query(
    "q_graph_triangles",
    f"""
    WITH {_EDGES_CTE},
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY 1
    ),
    keyed AS (
        SELECT e.u, e.v,
               du.d * {graph.RANK_BASE} + e.u AS ku,
               dv.d * {graph.RANK_BASE} + e.v AS kv
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    o AS (
        SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
               CASE WHEN ku < kv THEN v ELSE u END AS dst,
               greatest(ku, kv) AS kd
        FROM keyed
    ),
    wdg AS (
        SELECT o1.dst AS x, o2.dst AS y
        FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.kd < o2.kd
    ),
    tri AS (
        SELECT 1 AS one FROM wdg
        WHERE EXISTS (SELECT 1 FROM o WHERE o.src = wdg.x AND o.dst = wdg.y)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(SUM(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT)
            FROM deg) AS n_wedges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
           ROUND((3.0 * (SELECT COUNT(*) FROM tri))
                 / (SELECT SUM(d * (d - 1) / 2) FROM deg), 6) AS clustering
    """,
    "Triangle count + global clustering coefficient of the part "
    "co-purchase graph (parts sharing >= 2 orders). Edge discovery "
    "self-joins on the order key (co-partitioned, per-order expansion "
    "bounded by order size); triangles use the degree-ordered "
    "orientation so each wedge is enumerated once from its lowest-"
    "ranked corner — the O(m^1.5) node-iterator++, not naive wedge "
    "counting on hubs. Wedge count is an exact integer aggregate.",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    return graph.triangle_stats(edges)


@query(
    "q_graph_pagerank",
    _pagerank_sql(iters=3),
    "Weighted PageRank (3 fixed synchronous iterations, damping 0.85) "
    "over the event-type transition graph: the heavy work — lag-window "
    "sessionization and transition counting over the event stream — is "
    "embarrassingly parallel per user; the rank loop then runs one "
    "join + aggregation per iteration on the aggregated graph, "
    "materialized per round so lineage stays flat (the CC discipline). "
    "Node count enters as a broadcast one-row aggregate, never a "
    "driver-side count.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    edges = (
        seq.where(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    return graph.pagerank(edges, iters=3).orderBy("node")


@query(
    "q_local_clustering",
    f"""
    WITH {_EDGES_CTE},
    deg AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY 1
    ),
    keyed AS (
        SELECT e.u, e.v,
               du.d * {graph.RANK_BASE} + e.u AS ku,
               dv.d * {graph.RANK_BASE} + e.v AS kv
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    o AS (
        SELECT CASE WHEN ku < kv THEN u ELSE v END AS src,
               CASE WHEN ku < kv THEN v ELSE u END AS dst,
               greatest(ku, kv) AS kd
        FROM keyed
    ),
    tri AS (
        SELECT o1.src AS w, o1.dst AS x, o2.dst AS y
        FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.kd < o2.kd
        WHERE EXISTS (SELECT 1 FROM o
                      WHERE o.src = o1.dst AND o.dst = o2.dst)
    ),
    corners AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
            SELECT w AS node FROM tri
            UNION ALL SELECT x FROM tri
            UNION ALL SELECT y FROM tri)
        GROUP BY node
    )
    SELECT deg.node,
           CAST(deg.d AS BIGINT) AS degree,
           COALESCE(c.n_tri, 0) AS n_tri,
           CASE WHEN deg.d >= 2
                THEN ROUND(COALESCE(c.n_tri, 0)
                           / CAST(deg.d * (deg.d - 1) // 2 AS DOUBLE), 6)
                ELSE 0.0 END AS lcc
    FROM deg LEFT JOIN corners c USING (node)
    ORDER BY node
    """,
    "Per-node local clustering coefficient of the part co-purchase "
    "graph: triangles through each node over its d*(d-1)/2 possible "
    "wedges — the node-level cohesion signal (community members score "
    "high, hubs and bridges low). Triangles enumerate once from the "
    "degree-ordered orientation (O(m^1.5) wedge join, same as the "
    "global count); per-node credit is a 3-row explode over the "
    "triangle set, so the extra cost over the global statistic is "
    "linear in triangles, not a second wedge join.",
)
def q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    return graph.local_clustering(edges).orderBy("node")


def _lpa_sql(rounds: int) -> str:
    """Chained-CTE label-propagation mirror over the co-purchase
    graph: l0 = identity labels, each l{i} adopts the most frequent
    neighbor label (ties to the smallest) — the same synchronous
    update and total tiebreak as graph.label_propagation."""
    steps = []
    prev = "l0"
    for i in range(1, rounds + 1):
        steps.append(f"""
    n{i} AS (
        SELECT s.dst AS node, l.label, COUNT(*) AS cnt
        FROM sym s JOIN {prev} l ON l.node = s.src
        GROUP BY 1, 2
    ),
    l{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, label) AS rn
            FROM n{i}) t
        WHERE rn = 1
    )""")
        prev = f"l{i}"
    return f"""
    WITH {_EDGES_CTE.strip().rstrip()},
    sym AS (
        SELECT u AS src, v AS dst FROM e
        UNION ALL SELECT v, u FROM e
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    {",".join(steps).lstrip()}
    SELECT node, label FROM {prev} ORDER BY node
    """


@query(
    "q_community_labels",
    _lpa_sql(3),
    "Community detection via synchronous label propagation (Raghavan "
    "et al. 2007) over the part co-purchase graph: 3 rounds of "
    "adopt-the-most-frequent-neighbor-label with a smallest-label "
    "tiebreak — deterministic by construction (the async/random "
    "variant is irreproducible, the wrong trade for a pipeline). "
    "Each round is one O(E) shuffle; label frames stay (node, label) "
    "slim.",
)
def q_community_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    return graph.label_propagation(edges, rounds=3).orderBy("node")


@query(
    "q_graph_kcore",
    graph.kcore_peel_sql(_EDGES_CTE, k=3, rounds=3) + "\nORDER BY node",
    "Bounded k-core peeling (k=3, 3 synchronous rounds) of the part "
    "co-purchase graph: each round deletes degree<k nodes via two "
    "node-keyed semi-joins, survivors returned with their in-core "
    "degree. Rounds are materialized (lazy chaining re-derives every "
    "prior round through both semi-join branches — the power-"
    "iteration recompute lesson); fixed-round semantics keep the "
    "operator deterministic and oracle-unrollable.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    return graph.kcore_peel(edges, k=3, rounds=3).orderBy("node")


@query(
    "q_graph_link_prediction",
    f"""
    WITH {_EDGES_CTE},
    adj AS (
        SELECT u AS x, v AS n FROM e UNION ALL SELECT v, u FROM e
    ),
    deg AS (SELECT x AS node, COUNT(*) AS d FROM adj GROUP BY 1),
    centers AS (
        SELECT node FROM deg WHERE d <= {graph.LP_MAX_CENTER_DEGREE}
    ),
    cadj AS (
        SELECT adj.x, adj.n FROM adj JOIN centers ON adj.x = centers.node
    ),
    cn AS (
        SELECT a.n AS a, b.n AS b, COUNT(*) AS cn
        FROM cadj a JOIN cadj b ON a.x = b.x AND a.n < b.n
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT cn.a, cn.b, cn.cn, da.d AS da, db.d AS db
        FROM cn
        JOIN deg da ON cn.a = da.node
        JOIN deg db ON cn.b = db.node
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.u = cn.a AND e.v = cn.b
        )
    )
    SELECT a, b, CAST(cn AS BIGINT) AS common_neighbors,
           ROUND(cn * 1.0 / (da + db - cn), 6) AS jaccard
    FROM cand
    ORDER BY jaccard DESC, a, b
    LIMIT 20
    """,
    "Link prediction over the part co-purchase graph: top-20 "
    "non-adjacent pairs by common-neighbor Jaccard. Candidates are "
    "enumerated as wedges through shared neighbors (distance-2 only, "
    "never all-pairs) with hub centers capped at degree "
    "64 — the same stop-key discipline as max_df in the dedup family; "
    "counts through dropped hubs are the documented lower-bound "
    "contract. Anti-join removes existing edges; top-k is "
    "TakeOrderedAndProject with a total (score, a, b) order.",
)
def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    return graph.link_prediction(
        edges, max_center_degree=graph.LP_MAX_CENTER_DEGREE, k=20
    )


@query(
    "q_graph_adamic_adar",
    f"""
    WITH {_EDGES_CTE},
    adj AS (
        SELECT u AS x, v AS n FROM e UNION ALL SELECT v, u FROM e
    ),
    deg AS (SELECT x AS node, COUNT(*) AS d FROM adj GROUP BY 1),
    centers AS (
        SELECT node, d FROM deg WHERE d <= {graph.LP_MAX_CENTER_DEGREE}
    ),
    cadj AS (
        SELECT adj.x, centers.d AS dx, adj.n
        FROM adj JOIN centers ON adj.x = centers.node
    ),
    scored AS (
        SELECT a.n AS a, b.n AS b,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               ROUND(SUM(1.0 / ln(CAST(a.dx AS DOUBLE))), 4) AS aa_score
        FROM cadj a JOIN cadj b ON a.x = b.x AND a.n < b.n
        GROUP BY 1, 2
    )
    SELECT s.a, s.b, s.common_neighbors, s.aa_score
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.a AND e.v = s.b)
    ORDER BY s.aa_score DESC, s.a, s.b
    LIMIT 20
    """,
    "Adamic-Adar link prediction over the part co-purchase graph: "
    "non-adjacent pairs scored by sum(1/ln(deg(z))) over shared "
    "neighbors — rare shared neighbors outweigh hubs, the weighted "
    "sibling of q_graph_link_prediction on the same hub-capped wedge "
    "machinery (the center's degree rides the wedge row; a wedge "
    "center always has degree >= 2 so ln never hits 0). Top-20 with a "
    "total (score, a, b) order.",
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    return graph.adamic_adar(
        edges, max_center_degree=graph.LP_MAX_CENTER_DEGREE, k=20
    )
