"""Linkage + language-model operator semantics (operators/linkage.py,
operators/lm.py) on crafted corpora."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from takuan_zoo.operators import linkage, lm


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                doc_id=i,
                text=t,
                lang=lang,
                source=src,
                n_chars=len(t),
            )
            for i, (t, lang, src) in enumerate(rows)
        ]
    )


def test_blocked_pairs_respects_blocks(spark):
    near_a = "alpha beta gamma delta epsilon zeta"
    near_b = "alpha beta gamma delta epsilon eta"
    docs = _docs(
        spark,
        [
            (near_a, "en", "s0"),
            (near_b, "en", "s1"),       # same block, high jaccard -> pair
            (near_a, "de", "s2"),       # different lang block -> no pair
            (near_a + " " * 300 + "x", "en", "s3"),  # other length band
        ],
    )
    pairs = linkage.blocked_pairs(docs, len_band=200, min_jaccard=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_blocked_pairs_max_block_drops_oversized(spark):
    # 70 near-identical docs share one block -> over the cap, zero
    # pairs from it; the 2-doc block still links. Without the cap the
    # big block alone would emit 70*69/2 = 2415 pairs.
    big = [("the cat sat on mat", "en", f"s{i}") for i in range(70)]
    small = [
        ("zebra quick brown fox jumps", "de", "sA"),
        ("zebra quick brown fox leaps", "de", "sB"),
    ]
    docs = _docs(spark, big + small)
    pairs = linkage.blocked_pairs(
        docs, min_jaccard=0.5, prefix_token=True, max_block=64
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(70, 71)}
    uncapped = linkage.blocked_pairs(
        docs, min_jaccard=0.5, prefix_token=True, max_block=None
    ).count()
    assert uncapped == 2415 + 1


def test_score_links_cross_source_only(spark):
    t = "alpha beta gamma delta epsilon zeta"
    docs = _docs(
        spark,
        [(t, "en", "s0"), (t, "en", "s0"), (t, "en", "s1")],
    )
    cand = spark.createDataFrame(
        [(0, 1), (0, 2)], "id_a long, id_b long"
    )
    out = linkage.score_links(cand, docs, threshold=0.6).collect()
    # (0,1) same source -> excluded; (0,2) identical cross-source
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (0, 2)
    assert r["jaccard"] == 1.0 and r["score"] == 1.0


def test_score_links_half_tie_rounds_up(spark):
    # jaccard = 3/7 -> 6dp 0.428571 (odd micro), len_ratio = 1.0,
    # lang_agree = 0: blended score = 0.5142855 exactly — a 6-dp
    # half tie. Double blends resolve this differently per engine
    # (Spark HALF_UP vs DuckDB banker's on the nearest double); the
    # integer micro-unit composition must pin it to half-up.
    docs = _docs(
        spark,
        [("aa bb cc dd ee", "en", "s0"), ("aa bb cc xx yy", "de", "s1")],
    )
    cand = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    out = linkage.score_links(cand, docs, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert r["jaccard"] == 0.428571
    assert r["len_ratio"] == 1.0 and r["lang_agree"] == 0
    assert r["score"] == 0.514286


def test_bigrams_positions_and_order(spark):
    docs = _docs(spark, [("a b c", "en", "s")])
    got = [
        (r["w1"], r["w2"])
        for r in lm.bigrams(docs).orderBy("w1", "w2").collect()
    ]
    assert got == [("a", "b"), ("b", "c")]


def test_perplexity_orders_predictable_below_random(spark):
    # 'a b' repeated is maximally predictable under the corpus LM;
    # an all-distinct-token doc is maximally surprising.
    predictable = "a b " * 20
    surprising = " ".join(f"w{i}" for i in range(40))
    docs = _docs(
        spark, [(predictable.strip(), "en", "s"), (surprising, "en", "s")]
    )
    ppl = {
        r["doc_id"]: r["ppl"]
        for r in lm.perplexity_scores(docs, add_k=0.5).collect()
    }
    assert ppl[0] < ppl[1]


def test_token_pmi_collocation_positive_and_counted(spark):
    # 'x y' is a true collocation (always adjacent): strongly positive
    # PMI and the highest pair count. (Note PMI's documented rare-pair
    # bias: a once-per-doc pair of hapax words can out-PMI it, so the
    # max-PMI assertion would be wrong by PMI's own semantics.)
    rows = [("x y a p b q x y r a s b x y", "en", "s")] * 6
    docs = _docs(spark, rows)
    out = {
        (r["w1"], r["w2"]): r
        for r in lm.token_pmi(docs, min_count=5).collect()
    }
    assert ("x", "y") in out
    assert out[("x", "y")]["pmi"] > 1.0
    top_count = max(r["c_xy"] for r in out.values())
    assert out[("x", "y")]["c_xy"] == top_count
