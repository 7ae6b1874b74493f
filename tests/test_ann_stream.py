"""Streaming IVF index maintenance: incremental growth, probe parity
with brute force, and epoch-idempotent replays."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from takuan_zoo.streaming.ann_stream import (
    ivf_index_sink,
    ivf_stream_probe,
    start_ivf_index_stream,
)

DIM = 8


def _vecs(rng, n, start_id):
    return pd.DataFrame(
        {
            "vec_id": range(start_id, start_id + n),
            "embedding": [
                [float(x) for x in rng.standard_normal(DIM)] for _ in range(n)
            ],
        }
    )


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "index": str(tmp_path / "ivf"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, env):
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(str(env["src"]))
    q = start_ivf_index_stream(
        stream, env["index"], env["ckpt"], dim=DIM, nlist=4,
        available_now=True,
    )
    q.awaitTermination(120)


def _brute_topk(spark, env, qvec, k):
    from takuan_zoo.operators.similarity import cosine_topk

    corpus = spark.read.parquet(str(env["src"]))
    return [
        tuple(r)
        for r in cosine_topk(corpus, qvec, k=k).collect()
    ]


def test_streamed_index_grows_and_probes_exactly(spark, env):
    rng = np.random.default_rng(7)
    _vecs(rng, 40, 0).to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    qvec = [1.0] + [0.0] * (DIM - 1)
    # nprobe = nlist: zero pruning loss, so the probe must EQUAL brute
    # force over everything ingested so far
    got = [
        tuple(r)
        for r in ivf_stream_probe(
            spark, env["index"], qvec, k=5, nlist=4, nprobe=4
        ).collect()
    ]
    assert got == _brute_topk(spark, env, qvec, 5)

    # second batch arrives: the probe sees old + new without a rebuild
    _vecs(rng, 40, 100).to_parquet(env["src"] / "b2.parquet")
    _drain(spark, env)
    got2 = [
        tuple(r)
        for r in ivf_stream_probe(
            spark, env["index"], qvec, k=5, nlist=4, nprobe=4
        ).collect()
    ]
    assert got2 == _brute_topk(spark, env, qvec, 5)


def test_streamed_index_probe_prunes_cells(spark, env):
    rng = np.random.default_rng(8)
    _vecs(rng, 60, 0).to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    qvec = [1.0] + [0.0] * (DIM - 1)
    probe_df = ivf_stream_probe(
        spark, env["index"], qvec, k=3, nlist=4, nprobe=1
    )
    plan = probe_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan and "cell" in plan
    probe_df.collect()  # and it actually runs


def test_replayed_epoch_overwrites_not_duplicates(spark, env):
    """Re-delivering an epoch (same batch, same epoch id) must leave
    the index unchanged — dynamic partition overwrite, not append."""
    rng = np.random.default_rng(9)
    batch = spark.createDataFrame(_vecs(rng, 25, 0))
    sink = ivf_index_sink(env["index"], dim=DIM, nlist=4)
    sink(batch, 0)
    n1 = spark.read.parquet(env["index"] + "/data").count()
    sink(batch, 0)  # replay
    n2 = spark.read.parquet(env["index"] + "/data").count()
    assert n1 == n2 == 25


def test_compaction_preserves_probe_results(spark, env):
    import os

    from takuan_zoo.streaming.ann_stream import compact_ivf_epochs

    rng = np.random.default_rng(11)
    sink = ivf_index_sink(env["index"], dim=DIM, nlist=4)
    sink(spark.createDataFrame(_vecs(rng, 30, 0)), 0)
    sink(spark.createDataFrame(_vecs(rng, 30, 100)), 1)
    qvec = [1.0] + [0.0] * (DIM - 1)
    before = [
        tuple(r)
        for r in ivf_stream_probe(
            spark, env["index"], qvec, k=5, nlist=4, nprobe=4
        ).collect()
    ]
    compact_ivf_epochs(spark, env["index"])
    epochs = [
        d for d in os.listdir(env["index"] + "/data") if d.startswith("epoch=")
    ]
    assert epochs == ["epoch=0"]
    after = [
        tuple(r)
        for r in ivf_stream_probe(
            spark, env["index"], qvec, k=5, nlist=4, nprobe=4
        ).collect()
    ]
    assert before == after
