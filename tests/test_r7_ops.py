"""Round-7 additions: margin-based bitext mining (within-cell ratio
margin, capped cells) and the Spark-native sketch parity claims."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from takuan_zoo.operators import similarity


def _vecs(n: int, dim: int = 8) -> list[list[float]]:
    """Deterministic unit-ish vectors (no RNG state)."""
    out = []
    for i in range(n):
        v = np.array(
            [((i * 7 + j * 13) % 17) - 8.0 for j in range(dim)], dtype=float
        )
        v[i % dim] += 9.0  # spread directions
        out.append([float(x) for x in v])
    return out


def _numpy_reference(vecs, *, nlist, k, top_n, max_cell):
    """Replay the operator's exact chain in numpy: fixed-centroid
    argmax assignment (rounded 6dp, first-max tiebreak), per-(cell,
    side) lowest-id cap, unit-normalize, dot rounded 6dp, top-k avg
    rounded 6dp, margin rounded 4dp, (margin desc, x, y) order."""
    dim = len(vecs[0])
    cents = np.array(
        similarity.fixed_centroids(dim, nlist=nlist), dtype=np.float64
    )
    rows = []
    cellof = {}
    for i, v in enumerate(vecs):
        d = np.round(np.array(v, dtype=np.float64) @ cents.T, 6)
        cellof[i] = int(np.argmax(d))
    kept = {}
    for side in (0, 1):
        for c in range(nlist):
            ids = sorted(
                i for i in cellof if i % 2 == side and cellof[i] == c
            )[:max_cell]
            kept[(side, c)] = ids
    nv = {}
    for i, v in enumerate(vecs):
        a = np.array(v, dtype=np.float64)
        # sequential fold like F.aggregate / list_sum
        s = 0.0
        for x in a:
            s += x * x
        nv[i] = a / np.sqrt(s)
    pairs = []
    for c in range(nlist):
        for x in kept[(0, c)]:
            for y in kept[(1, c)]:
                s = 0.0
                for ax, ay in zip(nv[x], nv[y]):
                    s += ax * ay
                pairs.append((x, y, round(s, 6)))
    def _avgk(side_idx, tie_idx):
        out = {}
        for v in {p[side_idx] for p in pairs}:
            sims = sorted(
                (p for p in pairs if p[side_idx] == v),
                key=lambda p: (-p[2], p[tie_idx]),
            )[:k]
            out[v] = round(sum(p[2] for p in sims) / len(sims), 6)
        return out

    kx, ky = _avgk(0, 1), _avgk(1, 0)
    mined = [
        (x, y, s, round(s / ((kx[x] + ky[y]) / 2), 4))
        for x, y, s in pairs
        if (kx[x] + ky[y]) / 2 > 0
    ]
    mined.sort(key=lambda r: (-r[3], r[0], r[1]))
    return mined[:top_n]


def test_bitext_margin_matches_numpy_reference(spark):
    vecs = _vecs(10)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = [
        (r.x_id, r.y_id, r.sim, r.margin)
        for r in similarity.bitext_margin_mining(
            df, nlist=4, k=2, top_n=8, max_cell=64
        ).collect()
    ]
    want = _numpy_reference(vecs, nlist=4, k=2, top_n=8, max_cell=64)
    assert got == want


def test_bitext_margin_demotes_hub_targets(spark):
    # hub is near BOTH sources; t0 is x0's true counterpart. The ratio
    # margin must rank (x0, t0) first even though (x2, hub)'s raw
    # cosine beats (x0, t0)'s margin denominator contribution.
    x0 = [1.0, 0.05, 0.0, 0.0]
    x2 = [0.0, 1.0, 0.05, 0.0]
    hub = [0.6, 0.75, 0.0, 0.0]  # odd id 1: high sim to both sources
    t0 = [0.99, 0.06, 0.01, 0.0]  # odd id 3: x0's translation
    df = spark.createDataFrame(
        [(0, x0), (2, x2), (1, hub), (3, t0)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.bitext_margin_mining(
        df, nlist=1, k=2, top_n=4, max_cell=64
    ).collect()
    assert (out[0].x_id, out[0].y_id) == (0, 3)
    margins = {(r.x_id, r.y_id): r.margin for r in out}
    assert margins[(0, 3)] > margins.get((0, 1), 0.0)


def test_bitext_cell_cap_keeps_lowest_ids(spark):
    vecs = _vecs(12, dim=4)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = [
        (r.x_id, r.y_id, r.sim, r.margin)
        for r in similarity.bitext_margin_mining(
            df, nlist=1, k=1, top_n=100, max_cell=2
        ).collect()
    ]
    # one cell, cap 2 per side: only the two lowest even and odd ids
    assert {g[0] for g in got} <= {0, 2}
    assert {g[1] for g in got} <= {1, 3}
    assert got == _numpy_reference(vecs, nlist=1, k=1, top_n=100, max_cell=2)


def test_native_sketch_parity_flags_true(spark, sf_dir):
    from takuan_zoo.queries import REGISTRY, _load

    _load()
    rows = REGISTRY["q_native_sketch_parity"].builder(spark, sf_dir).collect()
    assert rows, "expected one row per returnflag"
    for r in rows:
        assert r.hllpp_within_3rsd and r.gk_within_1pct, r
