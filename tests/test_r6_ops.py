"""Round-6 operator semantics on crafted inputs: KS drift, MAD
outliers, filter-funnel attrition, int8 quantization QC, label
propagation communities, and video scene segmentation over the real
BMP codec."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from takuan_zoo.operators import (
    clustering,
    corpus_stats,
    curation,
    dedup,
    graph,
)
from takuan_zoo.operators import multimodal as mm


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang=lg, source=s, n_chars=len(t))
            for i, (t, lg, s) in enumerate(rows)
        ]
    )


# ---------------------------------------------------------------- KS drift


def test_ks_drift_identical_distribution_is_zero(spark):
    # two sources with the SAME length multiset -> D = 0 for both
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, source=s, n_chars=c)
            for i, (s, c) in enumerate(
                [("a", 10), ("a", 20), ("a", 30), ("b", 10), ("b", 20), ("b", 30)]
            )
        ]
    )
    got = {r["source"]: r["ks_d"] for r in corpus_stats.ks_drift(docs).collect()}
    assert got == {"a": 0.0, "b": 0.0}


def test_ks_drift_disjoint_supports(spark):
    # a: all values 1, b: all values 2. Pooled ECDF at x=1 is 0.5;
    # F_a(1)=1 -> D_a = 0.5; F_b(1)=0 -> D_b = 0.5.
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="a", n_chars=1) for i in range(4)]
        + [Row(doc_id=10 + i, source="b", n_chars=2) for i in range(4)]
    )
    got = {
        r["source"]: (r["n_docs"], r["ks_d"])
        for r in corpus_stats.ks_drift(docs).collect()
    }
    assert got == {"a": (4, 0.5), "b": (4, 0.5)}


def test_ks_drift_evaluates_group_at_missing_grid_points(spark):
    # source b has no mass at x=1: its ECDF at the pooled grid point
    # x=1 must still be evaluated (0), where the pooled is 3/5.
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="a", n_chars=1) for i in range(3)]
        + [Row(doc_id=5, source="b", n_chars=2), Row(doc_id=6, source="b", n_chars=3)]
    )
    got = {r["source"]: r["ks_d"] for r in corpus_stats.ks_drift(docs).collect()}
    assert got["b"] == 0.6  # |0 - 3/5| at x=1
    assert got["a"] == 0.4  # |1 - 3/5| at x=1


# ------------------------------------------------------------ MAD outliers


def test_mad_outlier_stats_flags_far_point(spark):
    # values 10..14 plus 1000: med=12.5? n=6 -> med=(12+13)/2=12.5,
    # adev = [2.5,1.5,0.5,0.5,1.5,987.5], mad = median = 1.5
    # threshold = 3*1.4826*1.5 = 6.6717 -> only 1000 is out.
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s", n_chars=v) for i, v in enumerate([10, 11, 12, 13, 14, 1000])]
    )
    row = corpus_stats.mad_outlier_stats(docs).collect()[0]
    assert row["med"] == 12.5
    assert row["mad"] == 1.5
    assert row["n_outliers"] == 1


def test_mad_outlier_stats_zero_mad(spark):
    # constant values: mad=0, threshold=0, |x-med|>0 never -> 0 outliers
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="s", n_chars=7) for i in range(5)]
    )
    row = corpus_stats.mad_outlier_stats(docs).collect()[0]
    assert (row["med"], row["mad"], row["n_outliers"]) == (7.0, 0.0, 0)


# ------------------------------------------------------------ filter funnel


def test_filter_funnel_depth_and_dedup(spark):
    docs = _docs(
        spark,
        [
            ("x" * 30, "en", "s"),       # survives len only if in [10, 50]
            ("short", "en", "s"),        # fails len (5 chars)
            ("y" * 30, "zz", "s"),       # fails lang at stage 2
            ("x" * 30, "en", "s"),       # duplicate of doc 0 text
        ],
    )
    out = curation.filter_funnel(
        docs,
        [
            ("len", F.col("n_chars").between(10, 50)),
            ("lang", F.col("lang") == "en"),
        ],
        dedup_text_col="text",
    ).collect()
    rows = {r["stage"]: (r["stage_name"], r["survivors"], r["dropped"]) for r in out}
    assert rows[0] == ("input", 4, 0)
    assert rows[1] == ("len", 3, 1)
    assert rows[2] == ("lang", 2, 1)
    assert rows[3] == ("exact_dedup", 1, 1)


def test_filter_funnel_is_cumulative_not_independent(spark):
    # a doc failing stage 1 must NOT count at stage 2 even if it
    # passes stage 2's predicate.
    docs = _docs(spark, [("short", "en", "s")])  # fails len, passes lang
    out = curation.filter_funnel(
        docs,
        [
            ("len", F.col("n_chars") > 10),
            ("lang", F.col("lang") == "en"),
        ],
    ).collect()
    surv = {r["stage"]: r["survivors"] for r in out}
    assert surv == {0: 1, 1: 0, 2: 0}


# -------------------------------------------------------- int8 quant error


def test_int8_quant_error_exact_grid_is_lossless(spark):
    # vector on the exact int8 grid (k * max/127): zero error
    scale = 0.5 / 127.0
    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[0.5, -0.5, 0.0]),
            Row(vec_id=2, embedding=[scale * 64, -0.5 + 0.0, 0.5]),
        ]
    )
    out = {r["vec_id"]: r for r in clustering.int8_quant_error(emb).collect()}
    assert out[1]["mse"] == 0.0
    assert out[1]["n_clipped"] == 0
    assert out[2]["mse"] == 0.0


def test_int8_quant_error_zero_vector(spark):
    emb = spark.createDataFrame([Row(vec_id=1, embedding=[0.0, 0.0])])
    row = clustering.int8_quant_error(emb).collect()[0]
    assert row["mse"] == 0.0
    assert row["scale"] == 1.0


def test_int8_quant_error_known_error(spark):
    # max = 1.0 -> scale = 1/127; x = 0.5 -> x/scale = 63.5 ->
    # floor(63.5 + .5) = 64 -> dq = 64/127; err = (0.5 - 64/127)^2
    emb = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.5])])
    row = clustering.int8_quant_error(emb).collect()[0]
    s = 1.0 / 127.0
    exp = round(((0.5 - 64 * s) ** 2 + 0.0) / 2, 6)
    assert row["mse"] == pytest.approx(exp, abs=1e-9)


# ------------------------------------------------------- label propagation


def _edges(spark, pairs):
    return spark.createDataFrame([Row(u=u, v=v) for u, v in pairs])


def test_label_propagation_two_cliques(spark):
    # two triangles joined by nothing: every node converges to its
    # clique's smallest id
    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(10, 11), (10, 12), (11, 12)]
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(_edges(spark, tri1 + tri2), rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_tiebreak_smallest_label(spark):
    # node 2's neighbors 1 and 3 each occur once -> tie -> label 1
    got = {
        r["node"]: r["label"]
        for r in graph.label_propagation(_edges(spark, [(1, 2), (2, 3)]), rounds=1).collect()
    }
    assert got[2] == 1
    # endpoints adopt their single neighbor's label
    assert got[1] == 2 and got[3] == 2


# ------------------------------------------------------------- scene cuts


def test_synth_video_frame_trajectory_is_locf(spark):
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    doc = 42
    # recompute the expected LOCF trajectory straight from the spec
    lvl, exp = None, []
    for f in range(16):
        if f == 0 or h(f"{doc}:vid:{f}") % 4 == 0:
            lvl = h(f"{doc}:lvl:{f}") % 256
        exp.append(lvl)
    got = [mm.bmp_pixels(mm.synth_video_frame(doc, f)).mean() for f in range(16)]
    assert got == [float(e) for e in exp]


def test_scene_segments_cut_rule(spark):
    rows = [
        Row(media_id=1, frame_id=0, intensity=10.0),
        Row(media_id=1, frame_id=1, intensity=12.0),   # jump 2 < 8: same shot
        Row(media_id=1, frame_id=2, intensity=50.0),   # jump 38: cut
        Row(media_id=1, frame_id=3, intensity=50.0),
        Row(media_id=2, frame_id=0, intensity=7.0),
    ]
    out = mm.scene_segments(spark.createDataFrame(rows), threshold=8.0).collect()
    by = [(r["media_id"], r["shot_id"], r["shot_start"], r["shot_end"], r["n_frames"], r["avg_intensity"]) for r in out]
    assert by == [
        (1, 1, 0, 1, 2, 11.0),
        (1, 2, 2, 3, 2, 50.0),
        (2, 1, 0, 0, 1, 7.0),
    ]


def test_frame_intensity_quarantines_corrupt_payload(spark):
    good = mm.synth_video_frame(1, 0)
    frames = spark.createDataFrame(
        [
            Row(media_id=1, frame_id=0, payload=bytearray(good)),
            Row(media_id=1, frame_id=1, payload=bytearray(b"not a bmp")),
        ]
    )
    out = {r["frame_id"]: r["intensity"] for r in mm.frame_intensity(frames).collect()}
    assert out[0] is not None
    assert out[1] is None


# ------------------------------------------------------------- burstiness


def test_token_burstiness_bursty_vs_uniform(spark):
    # "glue" appears once in each of 6 docs (VMR = (6*6-36)/(6*6) = 0);
    # "burst" appears 6 times in one doc: VMR = (6*36-36)/(6*6) = 5.
    docs = _docs(
        spark,
        [("glue " + ("burst " * 6 if i == 0 else ""), "en", "s") for i in range(6)],
    )
    got = {
        r["tok"]: (r["df"], r["total"], r["burstiness"])
        for r in corpus_stats.token_burstiness(docs, min_df=1, top_k=10).collect()
    }
    assert got["glue"] == (6, 6, 0.0)
    assert got["burst"] == (1, 6, 5.0)


def test_token_burstiness_min_df_filter(spark):
    docs = _docs(spark, [("rare word word", "en", "s"), ("word", "en", "s")])
    toks = [
        r["tok"]
        for r in corpus_stats.token_burstiness(docs, min_df=2, top_k=10).collect()
    ]
    assert toks == ["word"]  # df(rare)=1 filtered


# -------------------------------------------------------- template mining


def test_prefix_templates_digit_normalization(spark):
    from takuan_zoo.operators.text import prefix_templates

    docs = _docs(
        spark,
        [
            ("Error 404 at node a1", "en", "s"),
            ("error 500 at node b2", "en", "s"),
            ("totally different text here now", "en", "s"),
        ],
    )
    out = prefix_templates(docs, n_tokens=5, top_k=5).collect()
    top = out[0]
    assert top["template"] == "error <num> at node <mix>"
    assert top["n_docs"] == 2
    assert top["example_doc_id"] == 0


# ---------------------------------------------------- quantile normalize


def test_quantile_normalize_identity_on_single_group(spark):
    from takuan_zoo.operators.binning import quantile_normalize

    df = spark.createDataFrame(
        [Row(doc_id=i, source="s", n_chars=v) for i, v in enumerate([10, 20, 30, 40])]
    )
    out = quantile_normalize(
        df, value_col="n_chars", group_col="source", id_col="doc_id"
    ).collect()
    # one group spanning the pool: rank r of 4 maps to pooled index r
    assert {r["doc_id"]: r["norm_value"] for r in out} == {0: 10, 1: 20, 2: 30, 3: 40}


def test_quantile_normalize_maps_hot_source_onto_pool(spark):
    from takuan_zoo.operators.binning import quantile_normalize

    # source "hot" has values 100,200; source "cold" 1,2.
    # pooled sorted: [1, 2, 100, 200] (N=4).
    # hot rank1 -> idx round((0)*(3)/(1))+1 = 1 -> value 1
    # hot rank2 -> idx round((1)*(3)/(1))+1 = 4 -> value 200
    df = spark.createDataFrame(
        [
            Row(doc_id=1, source="hot", n_chars=100),
            Row(doc_id=2, source="hot", n_chars=200),
            Row(doc_id=3, source="cold", n_chars=1),
            Row(doc_id=4, source="cold", n_chars=2),
        ]
    )
    out = {
        r["doc_id"]: r["norm_value"]
        for r in quantile_normalize(
            df, value_col="n_chars", group_col="source", id_col="doc_id"
        ).collect()
    }
    assert out == {1: 1, 2: 200, 3: 1, 4: 200}


def test_quantile_normalize_singleton_group_gets_median(spark):
    from takuan_zoo.operators.binning import quantile_normalize

    # pool: [5, 7, 9] (N=3); singleton group -> idx (3+1)//2 = 2 -> 7
    df = spark.createDataFrame(
        [
            Row(doc_id=1, source="a", n_chars=5),
            Row(doc_id=2, source="a", n_chars=9),
            Row(doc_id=3, source="b", n_chars=7),
        ]
    )
    out = {
        r["doc_id"]: r["norm_value"]
        for r in quantile_normalize(
            df, value_col="n_chars", group_col="source", id_col="doc_id"
        ).collect()
    }
    assert out[3] == 7


# ------------------------------------------------------- dedup sweep bins


def test_jaccard_threshold_bin_boundary_doubles(spark):
    from takuan_zoo.operators.dedup import jaccard_threshold_bin

    # 0.3 as a double sits BELOW 3.0 after *10 (floor would misbin),
    # but >= 3/10.0 must hold; 0.79999 clears 0.7 not 0.8; 0.9 -> 9.
    df = spark.createDataFrame(
        [(0.3,), (0.79999,), (0.8,), (0.9,), (0.2,), (0.299999,)],
        "jaccard double",
    )
    got = [
        r["bin"]
        for r in df.select(
            jaccard_threshold_bin(F.col("jaccard")).alias("bin")
        ).collect()
    ]
    assert got == [3, 7, 8, 9, 2, 2]


# --------------------------------------------------------- deletion cascade


def test_deletion_cascade_shared_fingerprint_survives(spark):
    from takuan_zoo.operators.maintenance import deletion_cascade

    # doc 0 (deleted) shares text with doc 1 (retained): the shared
    # fingerprint must SURVIVE; doc 2's unique fp (deleted) must go.
    docs = _docs(
        spark,
        [
            ("same text here okay", "en", "s"),   # doc 0 -> deleted
            ("same text here okay", "en", "s"),   # doc 1 -> retained
            ("unique doomed text x", "en", "s"),  # doc 2 -> deleted
            ("another retained doc", "en", "s"),  # doc 3 -> retained
        ],
    )
    out = {
        r["artifact"]: (r["rows_before"], r["rows_after"], r["rows_deleted"])
        for r in deletion_cascade(
            docs, F.col("doc_id").isin(0, 2)
        ).collect()
    }
    assert out["documents"] == (4, 2, 2)
    # 3 distinct fps; the shared one survives, doc2's dies -> 2 left
    assert out["fingerprints"] == (3, 2, 1)
    # each doc is short -> 1 chunk/doc
    assert out["chunks"] == (4, 2, 2)


def test_deletion_cascade_no_deletes_is_identity(spark):
    from takuan_zoo.operators.maintenance import deletion_cascade

    docs = _docs(spark, [("a b", "en", "s"), ("c d", "en", "s")])
    out = deletion_cascade(docs, F.lit(False)).collect()
    assert all(r["rows_deleted"] == 0 for r in out)
    assert all(r["rows_before"] == r["rows_after"] for r in out)


# ----------------------------------------------------- manifest / augment


def test_manifest_hash_order_insensitive(spark):
    from takuan_zoo.operators.corpus_stats import manifest_hash

    rows = [("b text", "s"), ("a text", "s"), ("c text", "s")]
    d1 = _docs(spark, [(t, "en", s) for t, s in rows])
    d2 = _docs(spark, [(t, "en", s) for t, s in reversed(rows)])
    h1 = manifest_hash(d1).collect()[0]["manifest_hash"]
    h2 = manifest_hash(d2).collect()[0]["manifest_hash"]
    assert h1 == h2


def test_manifest_hash_detects_single_char_change(spark):
    from takuan_zoo.operators.corpus_stats import manifest_hash

    d1 = _docs(spark, [("hello world", "en", "s")])
    d2 = _docs(spark, [("hello worle", "en", "s")])
    h1 = manifest_hash(d1).collect()[0]["manifest_hash"]
    h2 = manifest_hash(d2).collect()[0]["manifest_hash"]
    assert h1 != h2


def test_token_dropout_mask_matches_spec(spark):
    import hashlib

    from takuan_zoo.operators.text import token_dropout

    text = " ".join(f"w{i}" for i in range(40))
    docs = _docs(spark, [(text, "en", "s")])
    row = token_dropout(docs).collect()[0]
    exp = [
        f"w{i}"
        for i in range(40)
        if int(hashlib.md5(f"0:aug:{i}".encode()).hexdigest()[:8], 16) % 10
        != 0
    ]
    assert row["n_tokens"] == 40
    assert row["aug_text"] == " ".join(exp)
    assert row["n_kept"] == len(exp)


def test_scene_segments_cut_survives_corrupt_frame(spark):
    # f1 is quarantined; the 10 -> 80 jump between f0 and f2 must
    # still register as a cut (a bare lag() would NULL it away).
    rows = [
        Row(media_id=1, frame_id=0, intensity=10.0),
        Row(media_id=1, frame_id=1, intensity=None),
        Row(media_id=1, frame_id=2, intensity=80.0),
        Row(media_id=1, frame_id=3, intensity=81.0),
    ]
    out = mm.scene_segments(spark.createDataFrame(rows), threshold=8.0).collect()
    spans = [(r["shot_id"], r["shot_start"], r["shot_end"], r["n_frames"]) for r in out]
    # shot 1 = frames 0-1 (corrupt frame rides along), shot 2 = 2-3
    assert spans == [(1, 0, 1, 2), (2, 2, 3, 2)]


def test_filter_funnel_null_predicate_fails_stage(spark):
    docs = spark.createDataFrame(
        [(0, "x", None, "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = curation.filter_funnel(
        docs, [("lang", F.col("lang") == "en")]
    ).collect()
    surv = {r["stage"]: r["survivors"] for r in out}
    # NULL lang must FAIL the stage, as .where(lang = 'en') would drop it
    assert surv == {0: 1, 1: 0}


def test_dedup_representatives_string_ids(spark):
    from takuan_zoo.operators.dedup import dedup_representatives

    df = spark.createDataFrame(
        [
            Row(doc_id="b", text="same good text here"),
            Row(doc_id="a", text="same good text here"),
            Row(doc_id="c", text="other text entirely"),
        ]
    )
    out = {r["doc_id"]: r["dup_count"] for r in dedup_representatives(df).collect()}
    # equal scores (identical text) -> min-id tiebreak must pick "a",
    # comparing ids natively (the old -id tiebreak NULLed on strings)
    assert out == {"a": 2, "c": 1}


def test_dedup_clusters_self_pair_node_parity(spark):
    # a node appearing ONLY in a self-pair must still get a label in
    # both solve paths (the fast path once dropped it)
    pairs = spark.createDataFrame([(5, 5), (1, 2)], "id_a long, id_b long")
    for gate in [None, dedup.CC_SMALL_GRAPH_MAX_EDGES]:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.dedup_clusters(pairs, small_graph_max_edges=gate).collect()
        }
        assert got == {1: 1, 2: 1, 5: 5}, (gate, got)


def test_matryoshka_energy_zero_vector_reported_not_poisoning(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[3.0, 0.0, 4.0, 0.0], label=1),
            Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0], label=1),
        ]
    )
    row = clustering.matryoshka_energy(
        emb, prefix_dims=2, min_ratio=0.9
    ).collect()[0]
    # zero vector lands in n_zero, not the mean (3/5 = 0.6 ratio alone)
    assert row["n_zero"] == 1
    assert row["mean_energy_ratio"] == 0.6
    assert row["n_below_min"] == 1  # only the real vector is judged


def test_int8_quant_error_submax_calibration_clips(spark):
    # one big outlier among small values: 0.95-quantile calibration
    # makes the outlier clip (|x|/scale > 127.5) and n_clipped fire
    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.01] * 63 + [10.0])]
    )
    row = clustering.int8_quant_error(
        emb, calibration_q=0.95
    ).collect()[0]
    assert row["n_clipped"] == 1
    assert row["mse"] > 0.0


def test_source_share_matrix_counts_and_cap(spark):
    from takuan_zoo.operators.dedup import source_share_matrix

    docs = spark.createDataFrame(
        [
            # key "k1" shared by s1+s2; "k2" by s1+s2+s3; "all" by 4
            # sources (capped out at max_group=3)
            Row(doc_id=0, text="k1", source="s1"),
            Row(doc_id=1, text="k1", source="s2"),
            Row(doc_id=2, text="k2", source="s1"),
            Row(doc_id=3, text="k2", source="s2"),
            Row(doc_id=4, text="k2", source="s3"),
            Row(doc_id=5, text="all", source="s1"),
            Row(doc_id=6, text="all", source="s2"),
            Row(doc_id=7, text="all", source="s3"),
            Row(doc_id=8, text="all", source="s4"),
        ]
    )
    out = {
        (r["src_a"], r["src_b"]): r["n_shared_keys"]
        for r in source_share_matrix(
            docs, F.col("text"), max_group=3
        ).collect()
    }
    # "all" (4 sources) dropped by the cap; k1+k2 -> s1-s2 shares 2
    assert out == {("s1", "s2"): 2, ("s1", "s3"): 1, ("s2", "s3"): 1}


def test_dp_histogram_suppresses_and_is_reproducible(spark):
    from takuan_zoo.operators.corpus_stats import dp_histogram

    rows = [("en", 0)] * 7 + [("de", 1)] * 3  # de group under k_min=5
    df = spark.createDataFrame(rows, "lang string, lbucket int")
    out1 = dp_histogram(df, ["lang", "lbucket"], k_min=5).collect()
    out2 = dp_histogram(df, ["lang", "lbucket"], k_min=5).collect()
    assert out1 == out2  # deterministic release
    assert [(r.lang, r.true_count) for r in out1] == [("en", 7)]
    [r] = out1
    # Laplace(1) noise: nonzero almost surely, bounded displacement
    # for any u away from the tails
    assert r.noisy_count != r.true_count
    assert abs(r.noisy_count - r.true_count) < 50


def test_dp_histogram_release_mode_drops_true_count(spark):
    # release=True is the actually-publishable projection: the exact
    # count never leaves the pipeline (the audit shape keeps it only
    # for the oracle/driver hash check).
    from takuan_zoo.operators.corpus_stats import dp_histogram

    df = spark.createDataFrame(
        [("en", 0)] * 7, "lang string, lbucket int"
    )
    out = dp_histogram(df, ["lang", "lbucket"], k_min=5, release=True)
    assert out.columns == ["lang", "lbucket", "noisy_count"]
    audit = dp_histogram(df, ["lang", "lbucket"], k_min=5)
    assert out.collect()[0].noisy_count == audit.collect()[0].noisy_count


def test_global_ntile_matches_single_sort_ntile(spark):
    """global_ntile (range-blocks + offsets + closed form) must equal
    Spark's own ntile over ONE window partition row-for-row — for
    remainder splits (n % k != 0), k > n (every row its own bucket),
    k = 1, and heavy value ties (the unique tiebreak column decides)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from takuan_zoo.operators.binning import global_ntile

    rng = random.Random(7)
    rows = [(rng.choice([1.0, 2.0, 5.0]), i) for i in range(97)]
    df = spark.createDataFrame(rows, "v double, id bigint").repartition(8)
    order = ["v", "id"]
    for k in (1, 3, 10, 200):
        got = {
            (r["v"], r["id"]): r["b"]
            for r in global_ntile(df, order, k=k, out_col="b").collect()
        }
        w = Window.orderBy(*order)
        want = {
            (r["v"], r["id"]): r["b"]
            for r in df.select(
                "v", "id", F.ntile(k).over(w).alias("b")
            ).collect()
        }
        assert got == want, f"k={k}: {sorted(got.items())[:5]} ..."


def test_global_ntile_plan_has_no_single_partition_window(spark):
    """The point of global_ntile: the executed plan's DATA-grain
    window (the one ordering by the caller's order columns) runs
    PARTITIONED by the range-block id, never as the one-task
    global-sort window a bare Window.orderBy produces. Plan text
    shape (verified empirically): a partitioned window prints
    'Window [exprs], [partition_cols], [order]' — the '], [_pid#'
    middle group — while a global one prints only
    'Window [exprs], [order]'. The detector is validated against a
    deliberately regressed plan so it can never go vacuous."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from takuan_zoo.operators.binning import global_ntile

    def data_windows(frame, order_col_marker):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        return [
            line
            for line in plan.split("\n")
            if "windowspecdefinition" in line
            and order_col_marker in line.split("windowspecdefinition", 1)[1]
        ]

    df = spark.range(1000).selectExpr("id", "id % 7 as v")
    good = data_windows(global_ntile(df, ["v", "id"], k=10), "v#")
    assert good, "no data-grain window found; the plan shape changed"
    for line in good:
        assert "], [_pid#" in line, f"unpartitioned data window: {line}"

    # negative control: the detector must CATCH the regressed form
    bad = data_windows(
        df.select(
            "v", "id",
            F.ntile(10).over(Window.orderBy("v", "id")).alias("b"),
        ),
        "v#",
    )
    assert bad and any("], [_pid#" not in line for line in bad), (
        "detector failed to flag a bare global-sort window"
    )
