"""MinHash signature maintainer: the element-wise min fold of
per-epoch partials must equal the signatures computed over all
documents at once, for any split; replays must not change them."""

from __future__ import annotations

import pandas as pd
import pytest

from takuan_zoo.streaming.minhash_stream import (
    merged_signatures,
    minhash_sink,
    partial_group_signatures,
    signature_pair_similarity,
    start_minhash_stream,
)

SCHEMA = "source string, text string"
NH = 16


def _docs(rows):
    return pd.DataFrame([{"source": s, "text": t} for s, t in rows])


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "table": str(tmp_path / "sigs"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, env):
    stream = spark.readStream.schema(SCHEMA).parquet(str(env["src"]))
    q = start_minhash_stream(
        stream,
        env["table"],
        env["ckpt"],
        group_col="source",
        num_hashes=NH,
        available_now=True,
    )
    q.awaitTermination(120)


def _sig_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_live_stream_fold_equals_global_signatures(spark, env):
    b1 = _docs([("a", "w x y z w x"), ("b", "p q r s t u")])
    b2 = _docs([("a", "y z w x p q"), ("b", "p q r s s s")])
    b1.to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    b2.to_parquet(env["src"] / "b2.parquet")
    _drain(spark, env)
    got = _sig_rows(
        merged_signatures(spark, env["table"], group_col="source")
    )
    want = _sig_rows(
        partial_group_signatures(
            spark.createDataFrame(pd.concat([b1, b2], ignore_index=True)),
            group_col="source",
            num_hashes=NH,
        )
    )
    assert got == want
    # identical sources must estimate jaccard 1.0 against themselves
    # via the pair path on a duplicated group
    sims = signature_pair_similarity(
        merged_signatures(spark, env["table"], group_col="source"),
        group_col="source",
        num_hashes=NH,
    ).collect()
    assert all(0.0 <= r["est_jaccard"] <= 1.0 for r in sims)


def test_replayed_epoch_does_not_change_signatures(spark, env):
    batch = spark.createDataFrame(_docs([("a", "one two three four")]))
    sink = minhash_sink(env["table"], group_col="source", num_hashes=NH)
    sink(batch, 2)
    first = _sig_rows(
        merged_signatures(spark, env["table"], group_col="source")
    )
    sink(batch, 2)  # replay
    assert (
        _sig_rows(merged_signatures(spark, env["table"], group_col="source"))
        == first
    )


def test_hash_once_epoch_folds_equal_reshingled_partials(spark):
    # The batch-analog query shingle-hashes the corpus ONCE and folds
    # per-epoch slices of the hashed frame; the partials must be
    # identical to re-shingling each epoch's documents from text
    # (what the streaming sink does batch-by-batch).
    from pyspark.sql import functions as F

    from takuan_zoo.streaming.minhash_stream import (
        fold_signature_partials,
        shingle_hashes,
    )

    rows = [
        ("a", i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i%3}")
        for i in range(8)
    ] + [("b", i, f"w{i} w{i+2} w{i+4} w{i+6}") for i in range(8)]
    docs = spark.createDataFrame(
        rows, "source string, doc_id long, text string"
    ).withColumn("_epoch", F.pmod(F.col("doc_id"), F.lit(2)))
    hashed = shingle_hashes(docs, group_col="source", extra_cols=("_epoch",))
    # the one-job backfill: all epochs' partials from one aggregation
    backfill = fold_signature_partials(
        hashed,
        group_col="source",
        num_hashes=NH,
        extra_group_cols=("_epoch",),
    )
    for e in range(2):
        from_backfill = _sig_rows(
            backfill.where(F.col("_epoch") == e).drop("_epoch")
        )
        from_text = _sig_rows(
            partial_group_signatures(
                docs.where(F.col("_epoch") == e).select("source", "text"),
                group_col="source",
                num_hashes=NH,
            )
        )
        assert from_backfill == from_text


def test_split_invariance(spark, env):
    rows = [("a", f"tok{i} tok{i+1} tok{i+2} tok{i+3}") for i in range(6)]
    one, two = _docs(rows[:3]), _docs(rows[3:])
    odd, even = _docs(rows[::2]), _docs(rows[1::2])
    t1, t2 = env["table"] + "_a", env["table"] + "_b"
    s1 = minhash_sink(t1, group_col="source", num_hashes=NH)
    s2 = minhash_sink(t2, group_col="source", num_hashes=NH)
    s1(spark.createDataFrame(one), 0)
    s1(spark.createDataFrame(two), 1)
    s2(spark.createDataFrame(odd), 0)
    s2(spark.createDataFrame(even), 1)
    assert _sig_rows(
        merged_signatures(spark, t1, group_col="source")
    ) == _sig_rows(merged_signatures(spark, t2, group_col="source"))
