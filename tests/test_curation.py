"""Unit tests for corpus-curation operators: known-value repetition
metrics, contamination flags, and packing boundary arithmetic (the
oracle tests cover scale data; these pin the semantics on tiny
hand-checked inputs)."""

from __future__ import annotations

from takuan_zoo.operators.curation import (
    contamination_flags,
    pack_sequences,
    repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_repetition_stats_known_values(spark):
    docs = _docs(
        spark,
        [
            (1, "en", "a a a a"),            # dup 0.75, top bigram 'a a' 3/3
            (2, "en", "w x y z q r"),        # all distinct, 5 distinct bigrams
        ],
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[1]["dup_word_frac"] == 0.75
    assert got[1]["top_bigram_frac"] == 1.0
    assert not got[1]["keep"]
    assert got[2]["dup_word_frac"] == 0.0
    assert got[2]["top_bigram_frac"] == 0.2
    assert not got[2]["keep"]  # 0.2 > 0.1 top-bigram cap on a 6-word doc
    assert repetition_stats(docs, max_top_bigram_frac=0.5).where(
        "doc_id = 2"
    ).head()["keep"]


def test_contamination_flags_counts_shared_shingles(spark):
    train = _docs(spark, [(1, "en", "the quick brown fox jumps over the lazy dog")])
    bench = _docs(
        spark,
        [
            (2, "en", "quick brown fox jumps over everything"),  # 3 shared 3-grams
            (4, "en", "completely different words here now"),
        ],
    )
    got = contamination_flags(train, bench, n=3, min_shared=3).collect()
    assert len(got) == 1
    assert got[0]["doc_id"] == 1
    assert got[0]["n_bench_hits"] == 1
    assert got[0]["max_shared"] == 3
    # below the threshold: nothing flagged
    assert contamination_flags(train, bench, n=3, min_shared=4).count() == 0


def test_pack_sequences_boundaries(spark):
    docs = _docs(
        spark,
        [
            (1, "en", "a b c"),        # 3 tokens, cum_before 0 -> seq 0 off 0
            (2, "en", "d e f"),        # cum_before 3 -> seq 0 off 3
            (3, "en", "g h i"),        # cum_before 6 -> seq 1 off 1
            (10, "fr", "x y z w"),     # separate stratum: restarts at 0
        ],
    )
    got = {
        r["doc_id"]: (r["seq_id"], r["seq_offset"])
        for r in pack_sequences(docs, budget=5).collect()
    }
    assert got[1] == (0, 0)
    assert got[2] == (0, 3)
    assert got[3] == (1, 1)
    assert got[10] == (0, 0)


def test_redact_pii_patterns(spark):
    from takuan_zoo.operators.text import pii_counts, redact_pii

    rows = [
        ("mail bob.smith+x@corp.example.org now",),
        ("from 203.0.113.7 and 10.0.0.1",),
        ("call +15551234567 please",),
        ("clean text with 1.2 version and a@b",),  # no full matches
    ]
    df = spark.createDataFrame(rows, "raw string").select(
        "raw",
        pii_counts("raw").alias("n"),
        redact_pii("raw").alias("red"),
    )
    got = {r["raw"]: (r["n"], r["red"]) for r in df.collect()}
    assert got[rows[0][0]] == (1, "mail <EMAIL> now")
    assert got[rows[1][0]] == (2, "from <IP> and <IP>")
    assert got[rows[2][0]] == (1, "call <PHONE> please")
    assert got[rows[3][0]][0] == 0
    assert got[rows[3][0]][1] == rows[3][0]


def test_sample_to_mix_hits_target_mixture(spark):
    from takuan_zoo.operators.sampling import sample_to_mix

    rows = (
        [(i, "en") for i in range(100)]
        + [(100 + i, "de") for i in range(30)]
        + [(130 + i, "fr") for i in range(10)]
        + [(140 + i, "zz") for i in range(5)]  # unlisted stratum dropped
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample_to_mix(
        df, key_col="doc_id", stratum_col="lang",
        weights={"en": 0.5, "de": 0.3, "fr": 0.2}, seed=42,
    )
    by_lang = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
    ).collect()}
    # fr is the binding stratum (10/0.2 = 50 < 100/0.3 < 200): kept whole
    assert by_lang["fr"] == 10
    assert "zz" not in by_lang
    # en targets 25 rows (50*0.5), de 15 (50*0.3) — hash-sample variance
    # is real at n=100, so assert loose bands around the targets
    assert 15 <= by_lang["en"] <= 35
    assert 8 <= by_lang["de"] <= 22
    # deterministic: rerun with different partitioning, same rows
    ids1 = {r["doc_id"] for r in out.collect()}
    out2 = sample_to_mix(
        df.repartition(7), key_col="doc_id", stratum_col="lang",
        weights={"en": 0.5, "de": 0.3, "fr": 0.2}, seed=42,
    )
    assert {r["doc_id"] for r in out2.collect()} == ids1


def test_chunk_documents_overlap_and_tail(spark):
    from takuan_zoo.operators.curation import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = chunk_documents(df, size=4, overlap=1).orderBy("chunk_id").collect()
    # stride 3 over 10 tokens: starts 0,3,6,9
    assert [(r["chunk_id"], r["tok_start"], r["n_tokens"]) for r in rows] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1),
    ]
    assert rows[0]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[1]["chunk_text"] == "w3 w4 w5 w6"   # 1-token overlap
    assert rows[3]["chunk_text"] == "w9"             # short tail kept

    import pytest
    with pytest.raises(ValueError):
        chunk_documents(df, size=4, overlap=4)


def test_gopher_rules_each_rule_and_boundaries(spark):
    from takuan_zoo.operators.curation import gopher_rules

    long_ok = " ".join(["the", "of"] + ["word"] * 8 + ["vary%d" % i for i in range(42)])
    docs = _docs(
        spark,
        [
            # 52 words, stopwords {the, of}, varied vocab: passes all
            (1, "en", long_ok),
            # 3 words: fails word_count; passes stopword (the+of)
            (2, "en", "the of cat"),
            # symbol-heavy: '#' per word -> ratio 1 > 1/10
            (3, "en", " ".join(["#x"] * 60 + ["the", "of"])),
            # numeric words: alpha fraction 2/62 < 4/5
            (4, "en", " ".join(["123"] * 60 + ["the", "of"])),
            # one word repeated: top word mass = all chars > 1/5
            (5, "en", " ".join(["dup"] * 60 + ["the", "of"])),
            # no stopwords at all
            (6, "en", " ".join("w%d" % i for i in range(60))),
            # empty text: every guarded rule fails
            (7, "en", ""),
        ],
    )
    got = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert all(got[1][c] for c in got[1].asDict() if c.startswith("gr_"))
    assert not got[2]["gr_word_count"] and got[2]["gr_stopwords"]
    assert not got[3]["gr_symbol_ratio"] and got[3]["gr_word_count"]
    assert not got[4]["gr_alpha_words"]
    assert not got[5]["gr_top_word_mass"]
    assert not got[6]["gr_stopwords"]
    for c in ("gr_word_count", "gr_mean_word_len", "gr_symbol_ratio",
              "gr_alpha_words", "gr_top_word_mass"):
        assert not got[7][c]


def test_gopher_rules_integer_threshold_boundaries(spark):
    from takuan_zoo.operators.curation import gopher_rules

    # exact 1/5 top-word mass: 5x'zzzz' (mass 20) + 20x4-char words
    # -> chars_ns 100, 5*20 == 100, <= passes on the boundary
    at_cap = " ".join(["zzzz"] * 5 + ["q%03d" % i for i in range(20)])
    # 6x'zzz' (mass 18) + 20x3-char -> chars_ns 78, 5*18 = 90 > 78 fails
    over = " ".join(["zzz"] * 6 + ["q%02d" % i for i in range(20)])
    docs = _docs(spark, [(1, "en", at_cap), (2, "en", over)])
    got = {
        r["doc_id"]: r
        for r in gopher_rules(docs, word_lo=1).collect()
    }
    assert got[1]["gr_top_word_mass"]
    assert not got[2]["gr_top_word_mass"]


def test_decontaminate_artifact_matches_direct_build(spark, sf_dir):
    """ns_decontaminate (r9) serves contamination flags from the
    persisted pair-distribution artifact; its rows must be IDENTICAL to
    the direct contamination_flags_split inverted-index build under the
    same contract (n=3, min_shared=3, max_df=64, odd/even split) — the
    reuse is only sound because the artifact's distinct-shingle, whole-
    corpus-df, xxhash64 index is the same index the direct path builds."""
    from pyspark.sql import functions as F

    from takuan_zoo.operators.curation import contamination_flags_split
    from takuan_zoo.queries import REGISTRY, _load
    from takuan_spark.tables import load_table

    _load()
    direct = sorted(
        tuple(r)
        for r in contamination_flags_split(
            load_table(spark, sf_dir, "documents"),
            F.col("doc_id") % 2 == 1,
            n=3,
            min_shared=3,
            max_df=64,
        ).collect()
    )
    via_artifact = sorted(
        tuple(r)
        for r in REGISTRY["ns_decontaminate"].builder(spark, sf_dir).collect()
    )
    assert via_artifact == direct
    assert direct, "no contaminated docs at this SF; comparison vacuous"
