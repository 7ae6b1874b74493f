"""Round-5 operator semantics on crafted inputs: vocabulary/OOV,
Zipf fit, mean-shift changepoints, quality-aware dedup survivors,
matryoshka energy QC, and the auto_nbits LSH sizing rule."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from takuan_zoo.operators import corpus_stats, timeseries as tsops
from takuan_zoo.operators.clustering import matryoshka_energy
from takuan_zoo.operators.dedup import dedup_representatives
from takuan_zoo.operators.similarity import auto_nbits


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source=s, n_chars=len(t))
            for i, (t, s) in enumerate(rows)
        ]
    )


def test_top_vocabulary_rank_and_tiebreak(spark):
    docs = _docs(spark, [("b b b a a c", "s0"), ("a z", "s1")])
    got = {
        r["tok"]: (r["cnt"], r["rank"])
        for r in corpus_stats.top_vocabulary(docs, v=3).collect()
    }
    # a and b both count 3 -> tie broken by token ascending
    assert got == {"a": (3, 1), "b": (3, 2), "c": (1, 3)}


def test_oov_stats_against_vocab(spark):
    # vocab of size 2 keeps the two most frequent tokens (a, b);
    # everything else is OOV
    docs = _docs(
        spark, [("a a a b b", "s0"), ("a b rare1 rare2", "s1")]
    )
    got = {
        r["source"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in corpus_stats.oov_stats(docs, v=2).collect()
    }
    assert got["s0"] == (5, 0, 0.0)
    assert got["s1"] == (4, 2, 0.5)


def test_zipf_fit_pure_power_law_slope(spark):
    # frequencies 64, 32, 16, 8 at ranks 1..4: ln f = ln 64 - ln2 * ln r
    # ... not exactly (rank is 1,2,3,4 not powers) — instead plant
    # counts = C / rank so the log-log fit is slope -1 exactly.
    words = []
    for rank, tok in enumerate(["w1", "w2", "w3", "w4"], start=1):
        words += [tok] * (24 // rank)  # 24, 12, 8, 6
    docs = _docs(spark, [(" ".join(words), "s0")])
    row = corpus_stats.zipf_fit(docs, top_k=4).collect()[0]
    assert row["n_top"] == 4
    assert row["zipf_slope"] == pytest.approx(-1.0, abs=1e-6)


def test_mean_shift_changepoint_fires_at_planted_shift(spark):
    # 16 points at level 0 then 16 at level 10: the only full-window
    # firing rows straddle the jump
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", 1, 0.0 if i < 16 else 10.0)
        for i in range(32)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = tsops.mean_shift_changepoints(
        ev, window=8, z_threshold=1.5
    ).collect()
    assert got, "planted level shift not detected"
    # the exact boundary row (first point of the new level) must fire
    fired = {r["value"] for r in got}
    assert 10.0 in fired or 0.0 in fired
    # no firing in the flat interior
    for r in got:
        assert 8 <= r["ts"].minute <= 23


def test_dedup_representatives_picks_highest_quality(spark):
    # same content in two casings -> same fingerprint (lowercased);
    # give one copy extra punctuation so its quality drops, and a
    # higher id so min-id would pick the WRONG one
    good = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=good.upper(), lang="en", source="s0",
                n_chars=len(good)),
            Row(doc_id=1, text=good, lang="en", source="s1",
                n_chars=len(good)),
            Row(doc_id=2, text="unrelated doc entirely", lang="en",
                source="s2", n_chars=22),
        ]
    )
    kept = dedup_representatives(docs)
    got = {r["doc_id"]: r["dup_count"] for r in kept.collect()}
    # 0 and 1 share a fingerprint (fingerprint lowercases) but quality
    # is scored on the RAW text: the all-caps copy matches no
    # lowercase stopwords and scores lower — the lowercase doc 1 wins
    # even though min-id dedup would have kept 0
    assert got == {1: 2, 2: 1}

    # custom score flips the survivor; equal scores fall back to min-id
    kept2 = dedup_representatives(docs, score=-F.col("doc_id") * 1.0)
    got2 = {r["doc_id"]: r["dup_count"] for r in kept2.collect()}
    assert got2 == {0: 2, 2: 1}
    kept3 = dedup_representatives(docs, score=F.lit(1.0))
    got3 = {r["doc_id"]: r["dup_count"] for r in kept3.collect()}
    assert got3 == {0: 2, 2: 1}


def test_matryoshka_energy_known_ratio(spark):
    # all energy in the prefix -> ratio 1; none -> ratio 0
    front = [1.0] * 16 + [0.0] * 48
    back = [0.0] * 48 + [1.0] * 16
    emb = spark.createDataFrame(
        [(0, front, 0), (1, back, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {
        r["label"]: (r["mean_energy_ratio"], r["n_below_min"])
        for r in matryoshka_energy(
            emb, prefix_dims=16, min_ratio=0.5
        ).collect()
    }
    assert got[0] == (1.0, 0)
    assert got[1] == (0.0, 1)


def test_auto_nbits_constant_occupancy():
    assert auto_nbits(0) == 1
    assert auto_nbits(32, target_occupancy=32) == 1
    assert auto_nbits(2000, target_occupancy=32) == 6
    # doubling the corpus costs exactly one more bit
    for n in (10_000, 1_000_000):
        assert auto_nbits(2 * n) == auto_nbits(n) + 1
    # clamped
    assert auto_nbits(10**12) == 24


def test_kcenter_coreset_farthest_point_order(spark):
    # 1-d geometry embedded in 4-d: points at 0, 1, 10, 21 (ids 0-3).
    # seed = id 0; then 21 (dist 441), then 10 (min-dist 100 vs
    # closer alternatives), then 1.
    pts = {0: 0.0, 1: 1.0, 2: 10.0, 3: 21.0}
    emb = spark.createDataFrame(
        [(i, [x, 0.0, 0.0, 0.0], 0) for i, x in pts.items()],
        "vec_id long, embedding array<float>, label int",
    )
    from takuan_zoo.operators.clustering import kcenter_coreset

    got = [
        (r["rank"], r["vec_id"], r["mind"])
        for r in kcenter_coreset(emb, k=4).orderBy("rank").collect()
    ]
    assert [(g[0], g[1]) for g in got] == [(0, 0), (1, 3), (2, 2), (3, 1)]
    assert got[0][2] is None
    assert got[1][2] == 441.0  # 21^2 from the seed
    assert got[2][2] == 100.0  # min(10^2 to seed, 11^2 to 21) = 100
    assert got[3][2] == 1.0


def test_local_clustering_known_graph(spark):
    # triangle 1-2-3 plus a pendant 4 hanging off 3:
    # lcc(1) = lcc(2) = 1 (deg 2, 1 triangle); lcc(3) = 1/3 (deg 3);
    # lcc(4) = 0 (deg 1)
    from takuan_zoo.operators.graph import local_clustering

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "u long, v long"
    )
    got = {
        r["node"]: (r["degree"], r["n_tri"], r["lcc"])
        for r in local_clustering(edges).collect()
    }
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, 0.333333)
    assert got[4] == (1, 0, 0.0)


def test_interarrival_stats_exact_moments(spark):
    # gaps 10, 20, 30 -> mean 20, var_samp 100, cv = 10/20 = 0.5
    rows = [
        (0, "2024-01-01 00:00:00", 1, 0.0),
        (1, "2024-01-01 00:00:10", 1, 0.0),
        (2, "2024-01-01 00:00:30", 1, 0.0),
        (3, "2024-01-01 00:01:00", 1, 0.0),
        (4, "2024-01-01 00:00:00", 2, 0.0),  # single event: no gaps
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    from takuan_zoo.queries import REGISTRY, _load

    _load()
    import tempfile, os
    with tempfile.TemporaryDirectory() as tmp:
        ev.write.parquet(os.path.join(tmp, "events.parquet"))
        got = REGISTRY["q_interarrival_stats"].builder(spark, tmp).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["user_id"], r["n_gaps"], r["max_gap_secs"]) == (1, 3, 30)
    assert r["mean_gap_secs"] == 20.0
    assert r["gap_cv"] == 0.5
