"""Moments maintainer: merged power sums must reproduce batch
mean/std over everything ingested, replays must not double-count, and
the n<=1 guard must yield NULL std."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from takuan_zoo.streaming.moments_stream import (
    merged_moments,
    moments_sink,
    start_moments_stream,
)

SCHEMA = "grp string, x double"


def _rows(vals, grp="a"):
    return pd.DataFrame([{"grp": grp, "x": float(v)} for v in vals])


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "table": str(tmp_path / "moments"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, env):
    stream = spark.readStream.schema(SCHEMA).parquet(str(env["src"]))
    q = start_moments_stream(
        stream,
        env["table"],
        env["ckpt"],
        group_cols=["grp"],
        value_col="x",
        available_now=True,
    )
    q.awaitTermination(120)


def _got(spark, env):
    return {
        r["grp"]: (r["n"], r["mean"], r["std"])
        for r in merged_moments(
            spark, env["table"], group_cols=["grp"]
        ).collect()
    }


def test_live_stream_fold_equals_batch_moments(spark, env):
    b1, b2 = [3, 5, 7, 11], [2, 13, 17]
    _rows(b1).to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    _rows(b2).to_parquet(env["src"] / "b2.parquet")
    _drain(spark, env)
    vals = b1 + b2
    n = len(vals)
    mean = sum(vals) / n
    std = math.sqrt(sum((v - mean) ** 2 for v in vals) / (n - 1))
    got = _got(spark, env)
    assert got["a"] == (n, round(mean, 4), round(std, 4))


def test_replayed_epoch_does_not_double_count(spark, env):
    batch = spark.createDataFrame(_rows([1, 2, 3]))
    sink = moments_sink(env["table"], group_cols=["grp"], value_col="x")
    sink(batch, 0)
    first = _got(spark, env)
    sink(batch, 0)  # replay
    assert _got(spark, env) == first


def test_single_value_group_reports_null_std(spark, env):
    sink = moments_sink(env["table"], group_cols=["grp"], value_col="x")
    sink(spark.createDataFrame(_rows([42.0], grp="solo")), 0)
    got = _got(spark, env)
    assert got["solo"][0] == 1 and got["solo"][2] is None
