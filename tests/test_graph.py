"""Unit tests for the graph operators: triangle statistics on known
graphs and PageRank against a hand-computed fixed-point / NumPy power
iteration. Oracle comparison for the registered queries lives in
test_oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from takuan_zoo.operators import graph


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(u, v, 1.0) for u, v in pairs], "u long, v long, w double"
    )


def test_triangle_stats_complete_graph(spark):
    # K4: 4 nodes, 6 edges, 12 wedges, 4 triangles, clustering 1.0.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    row = graph.triangle_stats(_edges(spark, k4)).collect()[0]
    assert (
        row["n_nodes"],
        row["n_edges"],
        row["n_wedges"],
        row["n_triangles"],
        row["clustering"],
    ) == (4, 6, 12, 4, 1.0)


def test_triangle_stats_triangle_free(spark):
    # 4-cycle: wedges but no triangles.
    row = graph.triangle_stats(
        _edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3)])
    ).collect()[0]
    assert row["n_triangles"] == 0 and row["n_wedges"] == 4


def test_triangle_orientation_handles_skewed_hub(spark):
    # Star + one rim edge: the hub has degree 5 but under degree
    # ordering every oriented edge points INTO it, so its fan-out in
    # the wedge join is 0 — exactly one triangle found via the rim.
    star = [(100, r) for r in range(5)] + [(0, 1)]
    row = graph.triangle_stats(_edges(spark, star)).collect()[0]
    assert row["n_triangles"] == 1


def test_cooccurrence_edges_min_count_and_distinct(spark):
    items = spark.createDataFrame(
        [
            (1, "a"), (1, "b"), (1, "b"),  # duplicate (1,b) ignored
            (2, "a"), (2, "b"),
            (3, "a"), (3, "c"),
        ],
        "g int, item string",
    )
    out = {
        (r["u"], r["v"]): r["w"]
        for r in graph.cooccurrence_edges(
            items, group_col="g", item_col="item", min_count=2
        ).collect()
    }
    assert out == {("a", "b"): 2}


def test_pagerank_cycle_is_uniform(spark):
    # Directed 3-cycle: uniform rank is the exact fixed point, so any
    # iteration count returns exactly 1/3 per node.
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, w double"
    )
    out = graph.pagerank(e, iters=3).collect()
    assert all(abs(r["pr"] - 1 / 3) < 1e-6 for r in out)


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    pairs = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 0, 4.0)]
    e = spark.createDataFrame(pairs, "src long, dst long, w double")
    out = {r["node"]: r["pr"] for r in graph.pagerank(e, iters=3).collect()}

    n = 4
    m = np.zeros((n, n))
    outw = {}
    for s, d, w in pairs:
        outw[s] = outw.get(s, 0.0) + w
    for s, d, w in pairs:
        m[d, s] = w / outw[s]
    pr = np.full(n, 1 / n)
    for _ in range(3):
        pr = 0.15 / n + 0.85 * (m @ pr)
    for node, val in out.items():
        assert abs(val - pr[node]) < 1e-6


def test_triangle_stats_string_node_ids(spark):
    # cooccurrence_edges legitimately emits string item ids; the
    # struct(degree, id) rank key must order them (the old bigint
    # encoding silently produced NULL keys -> 0 triangles).
    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "u string, v string",
    )
    row = graph.triangle_stats(tri).collect()[0]
    assert row["n_triangles"] == 1
    assert row["n_wedges"] == 5


def test_triangle_stats_huge_ids_no_collision(spark):
    # ids far above 1e9 (the old RANK_BASE) must not collide/overflow.
    base = 50_000_000_000
    tri = [(base, base + 1), (base + 1, base + 2), (base, base + 2)]
    row = graph.triangle_stats(_edges(spark, tri)).collect()[0]
    assert row["n_triangles"] == 1 and row["n_nodes"] == 3


def test_kcore_peel_strips_tail_keeps_clique(spark):
    from takuan_zoo.operators.graph import kcore_peel

    # triangle {1,2,3} with a pendant path 3-4-5: k=2 peeling removes
    # 5 (deg 1) in round 1, then 4 in round 2; the triangle survives
    # with every degree exactly 2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "u int, v int"
    )
    got = {
        (r.node, r.degree)
        for r in kcore_peel(edges, k=2, rounds=3).collect()
    }
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_kcore_peel_zero_rounds_is_identity_degrees(spark):
    from takuan_zoo.operators.graph import degrees, kcore_peel

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u int, v int")
    got = {
        (r.node, r.degree)
        for r in kcore_peel(edges, k=5, rounds=0).collect()
    }
    want = {(r.node, r.d) for r in degrees(edges).collect()}
    assert got == want


def test_link_prediction_known_graph(spark):
    # 1-2, 1-3, 2-3, 2-4, 3-4, 4-5: non-adjacent (1,4) shares {2,3};
    # (2,5) and (3,5) share {4}; (1,5) shares nothing.
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)])
    got = [tuple(r) for r in graph.link_prediction(e).collect()]
    assert got == [
        (1, 4, 2, round(2 / 3, 6)),
        (2, 5, 1, round(1 / 3, 6)),
        (3, 5, 1, round(1 / 3, 6)),
    ]


def test_link_prediction_hub_cap_drops_wedges(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)])
    # max degree in this graph is 3: a cap of 1 allows only node 5
    # (degree 1) as a wedge center, and it has no wedge
    assert graph.link_prediction(e, max_center_degree=1).count() == 0
    # cap >= max degree changes nothing
    full = [tuple(r) for r in graph.link_prediction(e).collect()]
    uncapped = [
        tuple(r)
        for r in graph.link_prediction(e, max_center_degree=10**9).collect()
    ]
    assert full == uncapped


def test_adamic_adar_known_graph(spark):
    import math

    # same fixture as link prediction: (1,4) shares {2,3} with
    # deg(2)=deg(3)=3; (2,5)/(3,5) share {4} with deg(4)=3
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)])
    got = [tuple(r) for r in graph.adamic_adar(e).collect()]
    aa2 = round(2 / math.log(3), 4)
    aa1 = round(1 / math.log(3), 4)
    assert got == [
        (1, 4, 2, aa2),
        (2, 5, 1, aa1),
        (3, 5, 1, aa1),
    ]
