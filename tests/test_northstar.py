"""Semantics tests for the north-star operators that have no SQL oracle
(MinHash LSH, SimHash, LSH similarity) plus the multimodal plumbing.

Strategy (SURVEY.md §5): pin approximate operators against their exact
counterparts — MinHash candidates must recover the exact high-Jaccard
pairs; LSH top-k must have high recall vs brute-force top-k; SimHash must
be invariant to duplication and sensitive to edits.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import (
    dedup,
    multimodal,
    similarity,
)


# ------------------------------------------------------------- dedup

def test_dedup_exact_keeps_min_id(spark):
    rows = [
        (1, "hello   world"),
        (2, "Hello World"),  # same after normalization
        (3, "something else"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(df).collect())
    assert kept == [1, 3]


def test_jaccard_pairs_exact_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base), (3, "completely different words here entirely now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.jaccard_pairs(df, threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "one two")], ["doc_id", "text"])
    assert dedup.shingle_df(df, n=3).count() == 0


def test_minhash_recovers_exact_jaccard_pairs(spark, sf_dir):
    """Every exact-Jaccard>=0.9 pair must be found by MinHash LSH at a
    lower threshold (banding probability at j=0.9, b=16, r=4 is
    1-(1-0.9^4)^16 ~ 1.0), with estimated similarity close to exact."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert exact, "testdata is expected to contain planted near-dups"
    mh = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    missing = set(exact) - set(mh)
    assert not missing, f"MinHash missed exact near-dup pairs: {missing}"
    for pair, j in exact.items():
        assert abs(mh[pair] - j) < 0.25, (pair, mh[pair], j)


def test_minhash_qc_build_artifact_matches_direct_builds(spark, tmp_path):
    """The persisted QC artifact (exact pairs + signatures) the audit
    family shares must equal direct operator builds, filter correctly
    at higher thresholds, and skip rebuilds via the marker."""
    import os

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),
        (3, "a b c d e f z z z z"),
        (4, "totally different words over here now friend"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "qc")
    dedup.minhash_qc_build(docs, path, min_threshold=0.2, num_hashes=16)
    exact = spark.read.parquet(f"{path}/exact_pairs")
    sigs = spark.read.parquet(f"{path}/signatures")

    direct_02 = sorted(
        tuple(r) for r in dedup.jaccard_pairs(
            docs, threshold=0.2, max_df=64
        ).collect()
    )
    assert sorted(tuple(r) for r in exact.collect()) == direct_02
    # a >= 0.9 consumer filters the persisted frame to the same rows a
    # direct 0.9 build yields (rounded-then-compared in both paths)
    from pyspark.sql import functions as F

    assert sorted(
        tuple(r) for r in exact.where(F.col("jaccard") >= 0.9).collect()
    ) == sorted(
        tuple(r)
        for r in dedup.jaccard_pairs(docs, threshold=0.9, max_df=64).collect()
    )
    direct_sigs = sorted(
        (r["doc_id"], tuple(r["signature"]))
        for r in dedup.minhash_signatures(docs, num_hashes=16).collect()
    )
    assert sorted(
        (r["doc_id"], tuple(r["signature"])) for r in sigs.collect()
    ) == direct_sigs
    # banding from the persisted signatures == the from-text LSH path
    assert sorted(
        tuple(r)
        for r in dedup.minhash_band_pairs(
            sigs, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    ) == sorted(
        tuple(r)
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    )
    # marker-idempotent: a second build with the same params is a no-op
    mtime = os.path.getmtime(f"{path}/_BUILT.json")
    dedup.minhash_qc_build(docs, path, min_threshold=0.2, num_hashes=16)
    assert os.path.getmtime(f"{path}/_BUILT.json") == mtime


def test_minhash_signature_shape(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(df, num_hashes=16).collect()
    assert all(len(r["signature"]) == 16 for r in sigs)
    # identical docs -> identical signatures
    assert sigs[0]["signature"] == sigs[1]["signature"]
    # the hash family must be independent per position: a collapsed
    # family (all positions equal) estimates jaccard as 0/1 only
    assert len(set(sigs[0]["signature"])) > 8


def test_simhash_duplicate_invariance_and_sensitivity(spark):
    base = ("spark engine query data " * 12).strip()
    edited = base.replace("query", "qqery", 2)
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited)], ["doc_id", "text"]
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert sh[1] == sh[2]
    d13 = bin(sh[1] ^ sh[3]).count("1")
    assert 0 < d13 <= 16  # small edit -> small hamming distance


def test_simhash_pairs_find_duplicates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = dedup.jaccard_pairs(docs, threshold=0.95).collect()
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_distance=8).collect()
    }
    found = sum(1 for r in exact if (r["id_a"], r["id_b"]) in pairs)
    assert found >= len(exact) * 0.8  # simhash is lossier than minhash


# -------------------------------------------------------- similarity

def test_cosine_topk_self_is_most_similar(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 7).head()["embedding"]]
    top = similarity.cosine_topk(emb, qvec, k=3).collect()
    assert top[0]["vec_id"] == 7 and top[0]["sim"] == pytest.approx(1.0)


def test_lsh_topk_finds_planted_neighbors(spark, sf_dir):
    """LSH's guarantee is for genuinely close vectors: plant 5 noisy
    copies of the query (cos >= ~0.95) into the corpus; multi-table LSH
    must surface them in the top-k."""
    import random as pyrandom

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    rng = pyrandom.Random(7)
    planted_ids = list(range(100000, 100005))
    planted = [
        (pid, [x + rng.gauss(0, 0.05) for x in qvec], -1) for pid in planted_ids
    ]
    planted_df = spark.createDataFrame(
        planted, "vec_id bigint, embedding array<float>, label int"
    )
    corpus = emb.where(F.col("vec_id") != 0).unionByName(planted_df)
    approx = [
        r["vec_id"]
        for r in similarity.lsh_bucketed_topk(
            corpus, qvec, k=5, nbits=8, tables=4, hamming_radius=1
        ).collect()
    ]
    found = len(set(planted_ids) & set(approx))
    assert found >= 4, f"LSH missed planted neighbors: {approx}"


def test_ivf_topk_finds_planted_neighbors(spark, sf_dir):
    """Planted near-copies of the query land in the query's cell (tiny
    angle -> same nearest centroid), so IVF with nprobe=4 must surface
    them; also rank-order must match exact cosine on the probed set."""
    import random as pyrandom

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    rng = pyrandom.Random(3)
    planted_ids = list(range(200000, 200005))
    planted = [
        (pid, [x + rng.gauss(0, 0.02) for x in qvec], -1) for pid in planted_ids
    ]
    corpus = emb.where(F.col("vec_id") != 0).unionByName(
        spark.createDataFrame(
            planted, "vec_id bigint, embedding array<float>, label int"
        )
    )
    top = similarity.ivf_topk(corpus, qvec, k=10, nlist=8, nprobe=2).collect()
    got = {r["vec_id"] for r in top}
    found = len(set(planted_ids) & got)
    assert found >= 4, f"IVF missed planted neighbors: {sorted(got)}"
    sims = [r["sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_cosine_pairs_matches_bruteforce(spark, sf_dir):
    """The block-pair GEMM must reproduce the exact all-pairs result —
    check against an independent numpy O(n^2) computation, across a
    block count that forces both same-block and cross-block paths."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    nv = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = nv @ nv.T
    expected = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            a, b = int(ids[i]), int(ids[j])
            if a < b and sims[i, j] >= 0.3:
                expected.add((a, b, round(sims[i, j], 6)))
    got = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in similarity.cosine_pairs(
            emb, threshold=0.3, num_blocks=4
        ).collect()
    }
    assert got == expected


def test_cosine_pairs_lsh_finds_planted_dups(spark, sf_dir):
    """LSH pair discovery must surface genuinely-near pairs: plant noisy
    copies (cos >= ~0.95) of 5 corpus vectors and require >= 4 of the 5
    planted pairs among the candidates."""
    import random as pyrandom

    emb = load_table(spark, sf_dir, "embeddings")
    rng = pyrandom.Random(11)
    sources = emb.where(F.col("vec_id") < 5).collect()
    planted = [
        (
            100000 + r["vec_id"],
            [x + rng.gauss(0, 0.03) for x in r["embedding"]],
            -1,
        )
        for r in sources
    ]
    planted_df = spark.createDataFrame(
        planted, "vec_id bigint, embedding array<float>, label int"
    )
    corpus = emb.unionByName(planted_df)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs_lsh(
            corpus, threshold=0.9, tables=8
        ).collect()
    }
    found = sum((i, 100000 + i) in pairs for i in range(5))
    assert found >= 4, f"LSH missed planted dup pairs: {sorted(pairs)}"


def test_cosine_pairs_lsh_max_bucket_bounds_join(spark, sf_dir):
    """The max_bucket guard is the scale contract: a degenerate clone
    set that floods one bucket in EVERY table contributes no pairs
    (its buckets all exceed the cap), while a near pair in small
    buckets is still found. Without the cap the clone set alone is
    200*199/2 = 19900 candidate pairs — quadratic in clone count."""
    emb = load_table(spark, sf_dir, "embeddings")
    base_vec = emb.where(F.col("vec_id") == 0).head()["embedding"]
    clones = spark.createDataFrame(
        [(200000 + i, list(base_vec), -1) for i in range(200)],
        "vec_id bigint, embedding array<float>, label int",
    )
    corpus = emb.where(F.col("vec_id") > 0).unionByName(clones)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs_lsh(
            corpus, threshold=0.9, max_bucket=64
        ).collect()
    }
    clone_pairs = {
        (a, b) for a, b in pairs if a >= 200000 and b >= 200000
    }
    assert not clone_pairs, (
        f"oversized clone bucket leaked {len(clone_pairs)} pairs"
    )
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs_lsh(
            corpus, threshold=0.9, max_bucket=None
        ).collect()
    }
    assert (
        sum(a >= 200000 and b >= 200000 for a, b in uncapped) == 19900
    )
    # non-clone near pairs (small buckets) are identical either way
    assert clone_pairs.symmetric_difference(set()) == set()
    assert {p for p in pairs if p[0] < 200000 and p[1] < 200000} == {
        p for p in uncapped if p[0] < 200000 and p[1] < 200000
    }


def test_knn_join_rank1_is_self(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 2)
    got = similarity.knn_join(emb, queries, k=2).collect()
    rank1 = {r["q_id"]: r["vec_id"] for r in got if r["rank"] == 1}
    assert rank1 == {0: 0, 1: 1}


# -------------------------------------------------------- multimodal

def _media_df(spark):
    rows = [
        (1, "image", b"\x89PNGfakebytes", 13, 64, 64, None, "png"),
        (2, "image", b"\xff\xd8fakejpeg", 10, 32, 32, None, "jpg"),
        (3, "video", b"fakemp4", 7, 640, 480, 3500, "mp4"),
        (4, "audio", None, None, None, None, 2000, "wav"),
    ]
    return spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)


def test_extract_features_fake_decoder(spark):
    media = _media_df(spark)
    feats = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(
            media, decoder=multimodal.fake_decoder
        ).collect()
    }
    assert len(feats[1]) == multimodal.FEATURE_DIM
    assert feats[1] != feats[2]  # content-derived
    assert feats[4] is None  # NULL payload passes through
    # deterministic across runs
    feats2 = {
        r["media_id"]: r["features"]
        for r in multimodal.extract_features(
            media, decoder=multimodal.fake_decoder
        ).collect()
    }
    assert feats == feats2


def test_default_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.default_decoder(b"bytes")


def test_media_summary_prunes_payload(spark):
    media = _media_df(spark)
    got = {r["kind"]: r["n"] for r in multimodal.media_summary(media).collect()}
    assert got == {"image": 2, "video": 1, "audio": 1}


def test_sample_frames(spark):
    media = _media_df(spark)
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    assert [(r["media_id"], r["frame_ts_ms"]) for r in frames] == [
        (3, 0),
        (3, 1000),
        (3, 2000),
    ]


def test_hash_sample_deterministic_and_partition_invariant(spark, sf_dir):
    """Membership must be a pure function of (seed, key): identical
    across repeated runs and across different partitionings, and
    monotone — a row's membership never flips when other rows arrive."""
    from takuan_zoo.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    ids1 = {r["doc_id"] for r in hash_sample(
        docs, key_col="doc_id", fraction=0.2).select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in hash_sample(
        docs.repartition(7), key_col="doc_id", fraction=0.2
    ).select("doc_id").collect()}
    assert ids1 == ids2 and ids1
    # subset property: half the corpus sampled at the same rate yields
    # exactly the intersection (incremental-rerun stability)
    half = docs.where(F.col("doc_id") % 2 == 0)
    ids_half = {r["doc_id"] for r in hash_sample(
        half, key_col="doc_id", fraction=0.2).select("doc_id").collect()}
    assert ids_half == {i for i in ids1 if i % 2 == 0}
    # rate sanity: 20% +- 6 points on 500 docs
    n = docs.count()
    assert abs(len(ids1) / n - 0.2) < 0.06


def test_stratified_sample_rates_respected(spark, sf_dir):
    from takuan_zoo.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs,
        key_col="doc_id",
        stratum_col="lang",
        fractions={"en": 1.0},
        default_fraction=0.0,
    )
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    assert out.count() == docs.where(F.col("lang") == "en").count()


def test_text_ops_null_empty_unicode(spark):
    """Degenerate documents must not crash or score absurdly: NULL text
    propagates NULL quality, empty/whitespace docs count zero words,
    unicode survives fingerprinting, and pair ops ignore empty docs."""
    from takuan_zoo.operators import text

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "héllo wörld héllo wörld"),
        (5, "日本語 テキスト です"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["wc"], r["q"])
        for r in df.select(
            "doc_id",
            text.word_count(F.col("text")).alias("wc"),
            text.quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert got[1] == (None, None)
    assert got[2][0] == 0 and got[3][0] == 0
    assert got[4][0] == 4 and got[5][0] == 3
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", text.fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] is None and fps[2] == fps[3] and fps[4] != fps[5]
    assert dedup.jaccard_pairs(df, threshold=0.5).count() == 0


def test_winnow_fingerprints_robust_to_local_edits(spark):
    from takuan_zoo.operators.text import winnow_fingerprints

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon") * 3
    edited = base.replace("sigma", "SIGMA", 1)  # one local edit
    other = "totally different content about completely other things " * 6
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    fps = {
        i: {r["fp"] for r in rows}
        for i, rows in (
            (i, winnow_fingerprints(df.where(F.col("doc_id") == i)).collect())
            for i in (1, 2, 3)
        )
    }
    sim_edit = len(fps[1] & fps[2]) / len(fps[1] | fps[2])
    sim_other = len(fps[1] & fps[3]) / len(fps[1] | fps[3])
    assert sim_edit > 0.6, sim_edit
    assert sim_other == 0.0, sim_other


@pytest.mark.parametrize("gate", [None, dedup.CC_SMALL_GRAPH_MAX_EDGES])
def test_dedup_clusters_connected_components(spark, gate):
    """Chains must collapse to one cluster: A~B, B~C, plus a separate
    pair and an isolated-free graph — identical through BOTH solve
    paths (gate=None forces the distributed iteration; the default
    gate routes this tiny graph to the driver union-find)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(
            pairs, small_graph_max_edges=gate
        ).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_dedup_clusters_partition_sizing(spark):
    """CC parallelism is data-derived, not pinned: tiny graphs stay at
    the floor, big edge counts scale up, the ceiling guards runaways,
    and an explicit `partitions` is honored in the result frame."""
    assert dedup.cc_partitions(0) == dedup.CC_MIN_PARTITIONS
    assert dedup.cc_partitions(10_000) == dedup.CC_MIN_PARTITIONS
    assert (
        dedup.cc_partitions(100 * dedup.CC_EDGES_PER_PARTITION) == 100
    )
    assert dedup.cc_partitions(10**15) == dedup.CC_MAX_PARTITIONS
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = dedup.dedup_clusters(
        pairs, partitions=2, small_graph_max_edges=None
    )
    # coalesce caps at the upstream shuffle width, so assert the cap
    # from below (2 < the fixture's 4 shuffle partitions -> exact).
    assert out.rdd.getNumPartitions() == 2
    assert {
        r["doc_id"]: r["cluster_id"] for r in out.collect()
    } == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks(64, m=8, ksub=16)
    codes = similarity.pq_encode(emb, cbs).select("vec_id", "codes")
    rows = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(len(c) == 8 for c in rows.values())
    assert all(0 <= x < 16 for c in rows.values() for x in c)
    # partitioning-invariant: same codes after a repartition
    rows2 = {
        r["vec_id"]: r["codes"]
        for r in similarity.pq_encode(emb.repartition(7), cbs)
        .select("vec_id", "codes")
        .collect()
    }
    assert rows == rows2


def test_pq_topk_exact_duplicate_attains_min_distance(spark, sf_dir):
    """An exact copy of the query vector encodes to the query's own
    argmin codes, so its ADC distance is sum_i min_j dtab[i][j] — the
    global minimum. It must appear in the top-k at that distance."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    dup_id = 300000
    corpus = emb.where(F.col("vec_id") != 0).unionByName(
        spark.createDataFrame(
            [(dup_id, qvec, -1)], "vec_id bigint, embedding array<float>, label int"
        )
    )
    top = similarity.pq_topk(corpus, qvec, k=10, m=8, ksub=16).collect()
    by_id = {r["vec_id"]: r["adist"] for r in top}
    assert dup_id in by_id, f"planted duplicate missing from top-k: {sorted(by_id)}"
    assert by_id[dup_id] == min(r["adist"] for r in top)
    dists = [r["adist"] for r in top]
    assert dists == sorted(dists)


def test_pq_rerank_surfaces_exact_duplicate_at_sim_1(spark, sf_dir):
    """The planted exact duplicate survives the compressed-domain stage
    (global-min ADC distance) and the exact re-rank puts it first with
    cosine 1.0."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    dup_id = 300001
    corpus = emb.where(F.col("vec_id") != 0).unionByName(
        spark.createDataFrame(
            [(dup_id, qvec, -1)], "vec_id bigint, embedding array<float>, label int"
        )
    )
    top = similarity.pq_rerank_topk(corpus, qvec, k=10, candidates=50).collect()
    assert top[0]["vec_id"] == dup_id
    assert top[0]["sim"] == 1.0
    sims = [r["sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ivfpq_probe_surfaces_exact_duplicate(spark, sf_dir, tmp_path):
    """An exact copy of the query lands in the query's own coarse cell
    (same argmax) with the query's own argmin codes, so the composite
    probe must surface it at the global-minimum ADC distance."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    dup_id = 300002
    corpus = emb.where(F.col("vec_id") != 0).unionByName(
        spark.createDataFrame(
            [(dup_id, qvec, -1)], "vec_id bigint, embedding array<float>, label int"
        )
    )
    path = str(tmp_path / "ivfpq")
    similarity.ivfpq_build(corpus, path, nlist=16, m=8, ksub=16)
    top = similarity.ivfpq_probe(
        spark, path, qvec, k=10, nlist=16, nprobe=4, m=8, ksub=16
    ).collect()
    by_id = {r["vec_id"]: r["adist"] for r in top}
    assert dup_id in by_id
    assert by_id[dup_id] == min(r["adist"] for r in top)


def test_wav_decoder_extracts_real_energy_envelope(spark):
    """The PCM WAV path is a REAL decode (stdlib wave + numpy): a file
    that is silence in the first half and a full-scale square wave in
    the second must show low RMS in the early feature windows and high
    RMS in the late ones — through the full mapInPandas pipeline."""
    import io
    import struct
    import wave

    from pyspark.sql import Row

    def make_wav(n=1600):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            half = n // 2
            samples = [0] * half + [
                20000 if i % 2 == 0 else -20000 for i in range(n - half)
            ]
            w.writeframes(struct.pack(f"<{n}h", *samples))
        return buf.getvalue()

    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(make_wav()))]
    )
    feats = (
        multimodal.extract_features(media, decoder=multimodal.wav_decoder)
        .head()["features"]
    )
    assert len(feats) == multimodal.FEATURE_DIM
    first_half = feats[: multimodal.FEATURE_DIM // 2]
    second_half = feats[multimodal.FEATURE_DIM // 2 :]
    assert all(f < 0.01 for f in first_half)       # silence
    assert all(f > 0.5 for f in second_half)       # full-scale square
    # deterministic: same payload, same features
    feats2 = (
        multimodal.extract_features(media, decoder=multimodal.wav_decoder)
        .head()["features"]
    )
    assert feats == feats2


def test_wav_decoder_mixes_stereo_and_rejects_bad_width(spark):
    import io
    import struct
    import wave

    import pytest as _pytest

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        # L = +1000, R = -1000 -> mixdown exactly 0 everywhere
        frames = struct.pack("<64h", *([1000, -1000] * 32))
        w.writeframes(frames)
    feats = multimodal.wav_decoder(buf.getvalue())
    assert all(f == 0.0 for f in feats)
    with _pytest.raises(Exception):
        multimodal.wav_decoder(b"not a wav at all")


def test_bmp_decoder_reads_real_pixels(spark):
    """24-bit BMP decode is real: an image that is black on the left
    half and white on the right must produce a luminance grid with 0.0
    in the left columns and 1.0 in the right — through mapInPandas."""
    import struct

    from pyspark.sql import Row

    def make_bmp(w=8, h=8):
        row_stride = (w * 3 + 3) & ~3
        pixel_bytes = row_stride * h
        header = struct.pack(
            "<2sIHHI", b"BM", 14 + 40 + pixel_bytes, 0, 0, 14 + 40
        )
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
        )
        rows = b""
        for _ in range(h):
            row = b""
            for x in range(w):
                v = 0 if x < w // 2 else 255
                row += bytes([v, v, v])  # BGR
            rows += row + b"\x00" * (row_stride - len(row))
        return header + info + rows

    media = spark.createDataFrame(
        [Row(media_id=1, payload=bytearray(make_bmp()))]
    )
    feats = (
        multimodal.extract_features(media, decoder=multimodal.bmp_decoder)
        .head()["features"]
    )
    assert len(feats) == multimodal.FEATURE_DIM
    grid = [feats[i * 4 : (i + 1) * 4] for i in range(4)]
    for row in grid:
        assert row[0] < 0.01 and row[1] < 0.01      # left: black
        assert row[2] > 0.99 and row[3] > 0.99      # right: white


def test_bmp_decoder_rejects_non_bmp():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.bmp_decoder(b"PNG-ish garbage")


def test_ahash_integer_bit_decisions(spark):
    # 16 features: first 4 clearly above the mean, rest below ->
    # fingerprint = top-4 bits set. Bit decisions are integer-exact.
    feats = [0.9] * 4 + [0.1] * 12
    df = spark.createDataFrame(
        [(1, feats)], "media_id long, features array<float>"
    )
    h = df.select(multimodal.ahash(F.col("features")).alias("h")).collect()[0]["h"]
    assert h == 0b1111_0000_0000_0000


def test_ahash_frame_matches_ahash(spark):
    """The wide-fingerprint explode+window+groupBy plan must be
    bit-identical to the per-row HOF ahash for any dim (same integer
    levels, same dim*q > sum decisions)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.randrange(16) / 255.0 for _ in range(60)])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "media_id long, features array<float>")
    hof = {
        r["media_id"]: r["h"]
        for r in df.select(
            "media_id", multimodal.ahash(F.col("features"), dim=60).alias("h")
        ).collect()
    }
    grouped = {
        r["media_id"]: r["phash"]
        for r in multimodal.ahash_frame(df, dim=60).collect()
    }
    assert hof == grouped


def test_phash_pairs_max_bucket_drops_saturated_slices(spark):
    # 70 fingerprints sharing every band slice (all-identical hashes)
    # exceed max_bucket=64 -> zero candidates survive the guard; with
    # the cap off, all 70*69/2 pairs appear at hamming 0.
    rows = [(i, 0b1010) for i in range(70)]
    df = spark.createDataFrame(rows, "media_id long, phash long")
    capped = multimodal.phash_pairs(df, max_bucket=64).count()
    uncapped = multimodal.phash_pairs(df).count()
    assert capped == 0
    assert uncapped == 70 * 69 // 2


def test_phash_pairs_banded_discovery(spark):
    # a/b identical (hamming 0), c differs in 2 bits (<= max_distance,
    # found via an untouched band), d differs everywhere (dropped).
    rows = [
        (1, 0b1111_0000_0000_0000),
        (2, 0b1111_0000_0000_0000),
        (3, 0b1111_0000_0000_0011),
        (4, 0b0000_1111_1111_1111),
    ]
    df = spark.createDataFrame(rows, "media_id long, phash long")
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.phash_pairs(df).collect()
    }
    assert out == {(1, 2): 0, (1, 3): 2, (2, 3): 2}


def test_phash_pairs_pigeonhole_guard():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.phash_pairs(None, bands=2, max_distance=2)


def test_containment_catches_embedded_doc(spark):
    # Short doc fully embedded in a long one: containment(short->long)
    # = 1.0 while Jaccard stays below any dedup threshold.
    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = {
        (r["id"], r["other"]): r["containment"]
        for r in dedup.containment_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert cont[(1, 2)] == 1.0
    assert (2, 1) not in cont  # reverse direction is far below 0.5
    jac = dedup.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the embedding entirely


def _half_black_bmp(w=8, h=8):
    import struct

    row_stride = (w * 3 + 3) & ~3
    pixel_bytes = row_stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + pixel_bytes, 0, 0, 14 + 40
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0
    )
    rows = b""
    for _ in range(h):
        row = b""
        for x in range(w):
            v = 0 if x < w // 2 else 255
            row += bytes([v, v, v])  # BGR
        rows += row + b"\x00" * (row_stride - len(row))
    return header + info + rows


def test_bmp_resize_roundtrip_preserves_structure(spark):
    """Resize is REAL: 8x8 half-black downsampled to 4x4 re-decodes as
    a valid BMP with the same left-black/right-white structure; corrupt
    payloads quarantine to NULL instead of failing the pass."""
    from pyspark.sql import Row

    media = spark.createDataFrame(
        [
            Row(media_id=1, payload=bytearray(_half_black_bmp())),
            Row(media_id=2, payload=bytearray(b"not a bmp")),
        ]
    )
    out = {
        r["media_id"]: r
        for r in multimodal.resize_images(
            media, width=4, height=4
        ).collect()
    }
    good = out[1]
    assert (good["width"], good["height"]) == (4, 4)
    assert good["payload_bytes"] == len(bytes(good["payload"]))
    px = multimodal.bmp_pixels(bytes(good["payload"]))
    assert px.shape == (4, 4, 3)
    assert (px[:, :2] == 0).all() and (px[:, 2:] == 255).all()
    assert out[2]["payload"] is None  # quarantined, not fatal


def test_bmp_encode_pixels_roundtrip():
    import numpy as np

    img = (np.arange(5 * 3 * 3) % 256).astype(np.uint8).reshape(5, 3, 3)
    back = multimodal.bmp_pixels(multimodal.bmp_encode(img))
    assert (back == img).all()


def test_bmp_encode_rounds_fractional_and_rejects_bad():
    import numpy as np
    import pytest as _pytest

    # interpolating resizers emit fractional pixels: round to nearest,
    # never truncate (254.7 must encode as 255, not 254)
    img = np.full((2, 2, 3), 254.7)
    back = multimodal.bmp_pixels(multimodal.bmp_encode(img))
    assert (back == 255).all()
    with _pytest.raises(ValueError, match="outside"):
        multimodal.bmp_encode(np.full((2, 2, 3), 300.0))
    with _pytest.raises(ValueError, match="empty"):
        multimodal.bmp_encode(np.zeros((0, 0, 3)))


def test_phash_pairs_bands_must_divide_dim():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divide"):
        multimodal.phash_pairs(None, dim=16, bands=3, max_distance=2)


def test_minhash_family_parity_and_bloom_prod(spark, sf_dir):
    """PRODUCTION hash family (xxhash64): recall parity with the md5
    oracle family on the planted near-dups, and the production bloom's
    post-join answer must be family-invariant (no false negatives)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert exact
    prod = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, num_hashes=64, bands=16, threshold=0.5, family="xxhash64"
        ).collect()
    }
    assert not (exact - prod), "xxhash64 family missed planted near-dups"

    from takuan_zoo.operators import bloom

    keys = spark.createDataFrame([(i,) for i in range(0, 50, 5)], "k long")
    fact = spark.createDataFrame([(i,) for i in range(50)], "k long")
    for fam in bloom.FAMILIES:
        bl = bloom.bloom_build(keys, key_col="k", mbits=64, k=3, family=fam)
        passed = bloom.bloom_prefilter(
            fact, bl, key_col="k", mbits=64, k=3, family=fam
        )
        got = {
            r["k"]
            for r in passed.join(keys, "k", "left_semi").collect()
        }
        assert got == set(range(0, 50, 5)), fam

    import pytest as _pytest

    with _pytest.raises(ValueError, match="family"):
        bloom.bloom_build(keys, key_col="k", family="fnv")
    with _pytest.raises(ValueError, match="family"):
        dedup.minhash_signatures(docs, family="fnv")


def test_lsh_detect_chain_matches_closed_form(spark):
    from takuan_zoo.queries.northstar import (
        _LSH_TUNE_GRID,
        _lsh_detect_col,
        _lsh_detect_sql,
    )

    sims = [0.0, 0.1, 0.3536, 0.5, 0.7071, 0.9, 1.0]
    df = spark.createDataFrame([(s,) for s in sims], "s double")
    for b, r, s50 in _LSH_TUNE_GRID:
        got = [
            row[0]
            for row in df.select(
                _lsh_detect_col(F.col("s"), r, b)
            ).collect()
        ]
        want = [1.0 - (1.0 - s**r) ** b for s in sims]
        assert got == pytest.approx(want, abs=1e-12), (b, r)
        # endpoints are exact: p(0)=0, p(1)=1
        assert got[0] == 0.0 and got[-1] == 1.0
        # at the threshold s50=(1/b)^(1/r): s50^r = 1/b exactly, so
        # p(s50) = 1-(1-1/b)^b (-> 1-1/e for large b; = 1 when b=1)
        mid = 1.0 - (1.0 - s50**r) ** b
        assert abs(mid - (1.0 - (1.0 - 1.0 / b) ** b)) < 1e-3, (b, r)
        # the SQL chain is the same expression text both engines run
        import duckdb

        ddb = duckdb.connect().execute(
            # literal decimals would multiply as DECIMAL and overflow
            # scale; the real oracle feeds a DOUBLE column
            "SELECT " + ", ".join(
                _lsh_detect_sql(f"CAST({s!r} AS DOUBLE)", r, b)
                for s in sims
            )
        ).fetchone()
        assert list(ddb) == pytest.approx(want, abs=1e-12)
        # bit-identical cross-engine (the hash-stability claim)
        assert list(ddb) == got
