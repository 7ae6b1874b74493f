"""Bloom maintainer: the distinct-union fold of per-epoch occupied
buckets must equal the batch-built filter (OR-merge algebra), replays
must not change the filter, and the merged filter must never produce a
false negative."""

from __future__ import annotations

import pandas as pd
import pytest

from takuan_zoo.operators.bloom import bloom_build, bloom_prefilter
from takuan_zoo.streaming.bloom_stream import (
    bloom_bucket_sink,
    merged_bloom,
    start_bloom_stream,
)

SCHEMA = "k long"


def _keys(vals):
    return pd.DataFrame([{"k": int(v)} for v in vals])


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "table": str(tmp_path / "bloom"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, env):
    stream = spark.readStream.schema(SCHEMA).parquet(str(env["src"]))
    q = start_bloom_stream(
        stream, env["table"], env["ckpt"], key_col="k", available_now=True
    )
    q.awaitTermination(120)


def _bloom_of(spark, env):
    return merged_bloom(spark, env["table"]).collect()[0]["bloom"]


def test_fold_equals_batch_filter_and_no_false_negatives(spark, env):
    b1, b2 = [1, 5, 9, 123], [7, 456, 789]
    _keys(b1).to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    _keys(b2).to_parquet(env["src"] / "b2.parquet")
    _drain(spark, env)
    all_keys = spark.createDataFrame(_keys(b1 + b2))
    want = bloom_build(all_keys, key_col="k").collect()[0]["bloom"]
    assert _bloom_of(spark, env) == want
    # no false negatives: every ingested key passes the merged filter
    passed = bloom_prefilter(
        all_keys, merged_bloom(spark, env["table"]), key_col="k"
    )
    assert passed.count() == len(b1 + b2)


def test_replayed_epoch_does_not_change_filter(spark, env):
    batch = spark.createDataFrame(_keys([2, 4, 6]))
    sink = bloom_bucket_sink(env["table"], key_col="k")
    sink(batch, 1)
    first = _bloom_of(spark, env)
    sink(batch, 1)  # replay
    assert _bloom_of(spark, env) == first
