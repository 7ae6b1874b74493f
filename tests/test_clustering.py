"""K-means / rebalance / QC operator semantics (operators/clustering.py)
on crafted inputs where the right answer is known by construction."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from takuan_zoo.operators import clustering


def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0)
         for i, v in enumerate(vecs)]
    )


def test_kmeans_separates_two_blobs(spark):
    # Two tight blobs far apart; k=2 seeded from the first two vectors
    # (one in each blob) must split them perfectly after one refit.
    blob_a = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1], [0.1, 0.1]]
    blob_b = [[10.0, 10.0], [10.1, 10.0], [10.0, 10.1], [10.1, 10.1]]
    # interleave so seeds (lowest two ids) land one per blob
    vecs = [blob_a[0], blob_b[0]] + blob_a[1:] + blob_b[1:]
    out = clustering.kmeans_assignments(_emb(spark, vecs), k=2, iters=1)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    a_ids = {0, 2, 3, 4}
    b_ids = {1, 5, 6, 7}
    assert len({got[i] for i in a_ids}) == 1
    assert len({got[i] for i in b_ids}) == 1
    assert got[0] != got[1]


def test_kmeans_refit_reduces_inertia(spark):
    # Refitting centroids can only decrease (never increase) total
    # within-cluster squared distance — the Lloyd monotonicity.
    vecs = [[float(i % 7), float((i * 3) % 5)] for i in range(30)]
    emb = _emb(spark, vecs)
    before = clustering.kmeans_assignments(emb, k=3, iters=0)
    after = clustering.kmeans_assignments(emb, k=3, iters=1)
    s0 = before.groupBy().sum("dist").collect()[0][0]
    s1 = after.groupBy().sum("dist").collect()[0][0]
    assert s1 <= s0 + 1e-9


def test_class_rebalance_reaches_parity(spark):
    rows = [Row(vec_id=i, label=0 if i < 9 else 1, embedding=[0.0])
            for i in range(12)]  # 9 vs 3
    out = clustering.class_rebalance(spark.createDataFrame(rows))
    counts = {
        r["label"]: r["n"]
        for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    assert counts[0] == 9  # majority unchanged (factor 1)
    assert counts[1] == 9  # 3 * ceil(9/3) = 9 -> parity


def test_embedding_qc_flags_crafted_defects(spark):
    rows = [
        Row(vec_id=1, label=0, embedding=[1.0, 0.0]),          # norm 1, ok
        Row(vec_id=2, label=0, embedding=[0.0, 0.0]),          # zero
        Row(vec_id=3, label=0, embedding=[3.0, 4.0]),          # norm 5 high
        Row(vec_id=4, label=0, embedding=[0.1, 0.0]),          # norm .1 low
        Row(vec_id=5, label=0, embedding=[float("nan"), 1.0]),  # nan
        Row(vec_id=6, label=0, embedding=[1.0]),               # bad dim
    ]
    out = clustering.embedding_qc(
        spark.createDataFrame(rows), dim=2
    ).collect()[0]
    assert out["n"] == 6
    assert out["n_zero"] == 1
    assert out["n_nan"] == 1
    assert out["n_bad_dim"] == 1
    assert out["n_norm_high"] == 1
    # the zero vector also counts as low-norm — by design: a QC row
    # can trip several gates
    assert out["n_norm_low"] >= 2


def test_seed_centroids_are_lowest_ids_in_order(spark):
    vecs = [[float(i)] for i in range(10)]
    cents = {
        r["cid"]: r["cv"]
        for r in clustering.seed_centroids(_emb(spark, vecs), k=3).collect()
    }
    assert cents == {0: [0.0], 1: [1.0], 2: [2.0]}


def test_power_iteration_matches_numpy_eigvector(spark):
    import numpy as np

    from takuan_zoo.operators.clustering import power_iteration_top_component

    rng = np.random.RandomState(7)
    # anisotropic blob: dominant direction along d0+d1
    base = rng.randn(300, 8) * 0.1
    base[:, 0] += base[:, 1] * 3
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = power_iteration_top_component(df, dim=8, iters=4).collect()
    comp = np.array([r["comp"] for r in sorted(out, key=lambda r: r["pos"])])
    lam = out[0]["lambda"]
    m = base.T @ base
    w, v = np.linalg.eigh(m)
    top = v[:, -1]
    # direction match up to sign
    cos = abs(float(comp @ top) / (np.linalg.norm(comp) * np.linalg.norm(top)))
    assert cos > 0.999, cos
    assert abs(lam - w[-1]) / w[-1] < 0.01, (lam, w[-1])
    # share bounded and consistent
    assert 0 < out[0]["explained_share"] <= 1


def test_power_iteration_rejects_zero_iters(spark):
    import pytest

    from takuan_zoo.operators.clustering import power_iteration_top_component

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        power_iteration_top_component(df, dim=2, iters=0)
