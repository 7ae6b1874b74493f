"""Semantic pins for the round-3 training-corpus operators: SemDeDup,
substring-span dedup, BM25, shard assignment. The oracle equivalence is
covered by tests/test_oracle.py; these tests pin the *semantics* on
hand-built inputs where the expected answer is known by construction.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from takuan_zoo.operators import (
    dedup,
    retrieval,
    similarity,
)
from takuan_zoo.operators.sampling import shard_assign
from takuan_zoo.operators.semdedup import semdedup_victims


# ------------------------------------------------------------- semdedup

def test_semdedup_drops_the_prototypical_member(spark):
    """Two near-identical vectors: the one MORE similar to its cell
    centroid is the victim; the outlier-ish one is kept."""
    cents = similarity.fixed_centroids(4, nlist=4, seed=777)
    c0 = cents[0]
    # v1 sits exactly on centroid 0; v2 is v1 slightly rotated (still
    # cell 0, cosine(v1, v2) ~ 0.999, but centroid-sim strictly lower).
    v1 = list(c0)
    v2 = [x + 0.02 * y for x, y in zip(c0, cents[1])]
    # v3: far from both (near the negated centroid) — no pair partner.
    v3 = [-x for x in c0]
    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=v1), Row(vec_id=2, embedding=v2),
         Row(vec_id=3, embedding=v3)]
    )
    out = semdedup_victims(
        emb, threshold=0.9, nlist=4, dim=4, seed=777, num_blocks=2
    ).collect()
    assert [r["vec_id"] for r in out] == [1]  # v1 is the prototype
    assert out[0]["n_dups"] == 1


def test_semdedup_ignores_cross_cell_pairs(spark):
    """Similar vectors in DIFFERENT cells never pair (that is the
    SemDeDup contract: comparison is within-cluster only)."""
    cents = similarity.fixed_centroids(4, nlist=4, seed=777)
    # two vectors on distinct centroids: same-cell never happens
    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=list(cents[0])),
         Row(vec_id=2, embedding=list(cents[1]))]
    )
    out = semdedup_victims(
        emb, threshold=-1.0, nlist=4, dim=4, seed=777, num_blocks=2
    ).collect()
    assert out == []


# ------------------------------------------------------ substring dedup

_DOC = "w%d"


def _doc(words_: list[str]) -> str:
    return " ".join(words_)


def test_duplicated_spans_merges_contiguous_ngrams(spark):
    """A 12-word run shared by two docs yields ONE maximal span per doc
    covering all 12 words (5 overlapping 8-grams merged), not 5 spans."""
    shared = [f"s{i}" for i in range(12)]
    a = ["a0", "a1"] + shared + ["a2"]
    b = ["b0"] + shared + ["b1", "b2", "b3"]
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=_doc(a)), Row(doc_id=2, text=_doc(b))]
    )
    out = {r["doc_id"]: r for r in dedup.duplicated_spans(docs, n=8).collect()}
    assert set(out) == {1, 2}
    # doc 1: shared run occupies word offsets 2..13
    assert (out[1]["span_start"], out[1]["span_end"]) == (2, 13)
    assert out[1]["n_grams"] == 5  # 12 - 8 + 1
    # doc 2: offsets 1..12
    assert (out[2]["span_start"], out[2]["span_end"]) == (1, 12)
    assert out[2]["max_dup_docs"] == 2


def test_duplicated_spans_keeps_disjoint_islands_apart(spark):
    """Two shared runs separated by unique words produce two spans."""
    run1 = [f"x{i}" for i in range(8)]
    run2 = [f"y{i}" for i in range(8)]
    a = run1 + ["gap1", "gap2"] + run2
    b = run1 + ["other1", "other2", "other3"] + run2
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=_doc(a)), Row(doc_id=2, text=_doc(b))]
    )
    rows = [
        r
        for r in dedup.duplicated_spans(docs, n=8).collect()
        if r["doc_id"] == 1
    ]
    assert [(r["span_start"], r["span_end"]) for r in rows] == [(0, 7), (10, 17)]


def test_duplicated_spans_unique_corpus_is_empty(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=_doc([f"u{i}_{j}" for j in range(20)]))
            for i in range(3)
        ]
    )
    assert dedup.duplicated_spans(docs, n=8).count() == 0


# -------------------------------------------------------- dedup pipeline

def test_corpus_dedup_summary_accounts_every_drop(spark):
    """3 exact copies + 1 near-dup + 1 unique in one source: exact pass
    drops 2, near pass drops the near-dup, accounting adds up."""
    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(29)) + " changed"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="s1", text=base, n_chars=len(base)),
            Row(doc_id=2, source="s1", text=base, n_chars=len(base)),
            Row(doc_id=3, source="s1", text=" ".join(base.split()), n_chars=len(base)),
            Row(doc_id=4, source="s1", text=near, n_chars=len(near)),
            Row(doc_id=5, source="s2", text="totally different words here "
                                            "nothing shared with others at all",
                n_chars=10),
        ]
    )
    out = {r["source"]: r for r in dedup.corpus_dedup_summary(docs).collect()}
    s1 = out["s1"]
    assert s1["exact_dropped"] == 2          # docs 2 and 3 (same fingerprint)
    assert s1["near_dropped"] == 1           # doc 4 dominated by doc 1
    assert s1["kept_docs"] == 1 and s1["kept_chars"] == len(base)
    s2 = out["s2"]
    assert (s2["kept_docs"], s2["exact_dropped"], s2["near_dropped"]) == (1, 0, 0)


def test_corpus_dedup_summary_keeps_fully_deduped_source(spark):
    """A source whose EVERY document duplicates lower-id content still
    appears in the accounting — kept 0, all dropped."""
    base = " ".join(f"w{i}" for i in range(25))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="orig", text=base, n_chars=len(base)),
            Row(doc_id=2, source="mirror", text=base, n_chars=len(base)),
            Row(doc_id=3, source="mirror", text=base, n_chars=len(base)),
        ]
    )
    out = {r["source"]: r for r in dedup.corpus_dedup_summary(docs).collect()}
    assert set(out) == {"orig", "mirror"}
    m = out["mirror"]
    assert (m["kept_docs"], m["kept_chars"]) == (0, 0)
    assert m["exact_dropped"] == 2 and m["near_dropped"] == 0


def test_near_dominated_keeps_chain_minimum(spark):
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3)]
    )
    dropped = {r["doc_id"] for r in dedup.near_dominated_ids(pairs).collect()}
    assert dropped == {2, 3}  # chain 1-2-3 keeps exactly the minimum


# ----------------------------------------------------- stop-shingle guard

def test_jaccard_max_df_drops_boilerplate_only(spark):
    """A boilerplate shingle shared by EVERY doc is excluded by max_df;
    genuinely near-duplicate pairs still surface, and unrelated docs
    sharing only the boilerplate do not pair at all."""
    boiler = "copyright acme corp"
    a = boiler + " alpha beta gamma delta epsilon zeta"
    b = boiler + " alpha beta gamma delta epsilon eta"
    c = boiler + " totally different content here now then"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=a), Row(doc_id=2, text=b), Row(doc_id=3, text=c)]
    )
    pairs = dedup.jaccard_pairs(
        docs, n=3, threshold=0.5, max_df=2
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    # without the guard the boilerplate shingle still cannot push
    # unrelated docs over 0.5, but it DOES enter every join bucket
    unguarded = dedup.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in unguarded] == [(1, 2)]


# ----------------------------------------------------------------- BM25

def _bm25_ref(docs: dict[int, str], terms: list[str], k1=1.2, b=0.75):
    """Independent reference implementation (plain Python)."""
    toks = {d: t.lower().split() for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    scores = {}
    for term in {t.lower() for t in terms}:
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, t in toks.items():
            tf = t.count(term)
            if tf:
                dl = len(t)
                scores[d] = scores.get(d, 0.0) + idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * dl / avgdl)
                )
    return {d: round(s, 6) for d, s in scores.items()}


def test_bm25_matches_reference_and_ranks(spark):
    docs = {
        1: "spark spark spark filler filler filler",
        2: "spark hash filler",
        3: "vector hash hash hash vector",
        4: "nothing relevant here at all " * 4,
    }
    sdf = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in docs.items()]
    )
    out = retrieval.bm25_topk(sdf, ["spark", "hash"], k=10).collect()
    ref = _bm25_ref(docs, ["spark", "hash"])
    got = {r["doc_id"]: r["score"] for r in out}
    assert got == pytest.approx(ref, abs=1e-6)
    # ranks follow (score desc, doc_id) and start at 1
    ordered = sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [r["rnk"] for r in sorted(out, key=lambda r: r["rnk"])] == list(
        range(1, len(ordered) + 1)
    )


def test_bm25_doc_length_normalization_prefers_shorter(spark):
    """Same tf: the shorter document scores higher (b > 0)."""
    sdf = spark.createDataFrame(
        [
            Row(doc_id=1, text="spark " + "pad " * 50),
            Row(doc_id=2, text="spark pad"),
        ]
    )
    out = {r["doc_id"]: r["score"] for r in retrieval.bm25_topk(
        sdf, ["spark"], k=10
    ).collect()}
    assert out[2] > out[1]


# -------------------------------------------------------- shard assign

def test_shard_assign_is_deterministic_and_dense(spark):
    df = spark.createDataFrame([Row(doc_id=i) for i in range(200)])
    a = shard_assign(df, key_col="doc_id", n_shards=4).collect()
    b = shard_assign(
        df.repartition(7), key_col="doc_id", n_shards=4
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # partition-invariant
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))  # dense 0..n-1
    # balanced-ish: no shard holds more than half the corpus
    assert max(len(p) for p in by_shard.values()) < 120


def test_shard_assign_membership_stable_under_growth(spark):
    """A row's (shard, hash-order) never changes when new rows arrive:
    growing the corpus only APPENDS to each shard's hash order."""
    small = spark.createDataFrame([Row(doc_id=i) for i in range(50)])
    big = spark.createDataFrame([Row(doc_id=i) for i in range(100)])
    a = {
        r["doc_id"]: r["shard"]
        for r in shard_assign(small, key_col="doc_id", n_shards=4).collect()
    }
    b = {
        r["doc_id"]: r["shard"]
        for r in shard_assign(big, key_col="doc_id", n_shards=4).collect()
    }
    assert all(b[d] == s for d, s in a.items())


# ------------------------------------------------- unicode normalization

def test_nfc_normalize_composes_and_is_idempotent(spark):
    from takuan_zoo.operators.text import nfc_normalize

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="café"),        # decomposed
            Row(doc_id=2, text="café"),          # precomposed
            Row(doc_id=3, text="plain ascii"),
            Row(doc_id=4, text=None),
        ]
    )
    out = {
        r["doc_id"]: (r["n"], r["ln"])
        for r in docs.select(
            "doc_id",
            nfc_normalize(F.col("text")).alias("n"),
            F.length(nfc_normalize(F.col("text"))).alias("ln"),
        ).collect()
    }
    assert out[1] == out[2] == ("café", 4)  # both canonicalize
    assert out[3] == ("plain ascii", 11)
    assert out[4] == (None, None)


def test_bm25_batch_agrees_with_single_query_scores(spark):
    """Each query's scores in the batch must equal running bm25_topk
    for that query alone (the inverted-index sharing is a pure
    execution optimization, not a semantics change)."""
    docs = {
        1: "spark spark filler filler",
        2: "spark hash filler hash",
        3: "vector hash hash vector window",
        4: "window window vector filler pad pad",
    }
    sdf = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in docs.items()]
    )
    batches = {0: ["spark", "hash"], 1: ["vector", "window"]}
    qdf = spark.createDataFrame(
        [(qid, terms) for qid, terms in batches.items()],
        "q_id int, terms array<string>",
    )
    got = {
        (r["q_id"], r["doc_id"]): r["score"]
        for r in retrieval.bm25_batch_topk(sdf, qdf, k=10).collect()
    }
    for qid, terms in batches.items():
        single = {
            r["doc_id"]: r["score"]
            for r in retrieval.bm25_topk(sdf, terms, k=10).collect()
        }
        assert {d: s for (q, d), s in got.items() if q == qid} == single


def test_sft_mask_closed_form_matches_turn_walk(spark):
    # the closed-form assistant-token count must equal literally
    # walking 16-word turns with user-first alternation
    def walk(n):
        return sum(
            min(16, n - t * 16)
            for t in range(-(-n // 16))
            if t % 2 == 1
        )

    rows = [(i, "s", " ".join(["w"] * i)) for i in range(1, 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from takuan_zoo.operators.text import words
    from pyspark.sql import functions as F

    n_words = F.size(words(F.col("text")))
    got = {
        r["doc_id"]: r["tok"]
        for r in df.select(
            "doc_id",
            (
                (n_words - n_words % 32) / F.lit(2)
                + F.greatest(F.lit(0), n_words % 32 - 16)
            )
            .cast("bigint")
            .alias("tok"),
        ).collect()
    }
    for n in range(1, 100):
        assert got[n] == walk(n), n


def test_pack_efficiency_known_values(spark):
    from takuan_zoo.queries.training import ns_pack_efficiency
    import pandas as pd
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        pd.DataFrame(
            [
                # lang en: docs of 10 and 70 words -> T=80
                {"doc_id": 1, "lang": "en", "source": "s",
                 "text": " ".join(["w"] * 10), "n_chars": 0},
                {"doc_id": 2, "lang": "en", "source": "s",
                 "text": " ".join(["w"] * 70), "n_chars": 0},
            ]
        ).to_parquet(os.path.join(d, "documents.parquet"))
        got = {
            (r["lang"], r["context_len"]): r
            for r in ns_pack_efficiency(spark, d).collect()
        }
    r64 = got[("en", 64)]
    # packed: ceil(80/64)=2; padded: ceil(10/64)+ceil(70/64)=1+2=3
    assert r64["packed_seqs"] == 2 and r64["padded_seqs"] == 3
    assert r64["packed_pad"] == 2 * 64 - 80
    assert r64["padded_pad"] == 3 * 64 - 80
    assert r64["saved_ratio"] == round(1 - 2 / 3, 4)
    r512 = got[("en", 512)]
    assert r512["packed_seqs"] == 1 and r512["padded_seqs"] == 2
