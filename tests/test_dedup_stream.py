"""Streaming incremental dedup: novel-only appends across micro-batches,
in-batch self-dedup, and content-level idempotence of the fp protocol."""

from __future__ import annotations

import pandas as pd
import pytest

from takuan_zoo.streaming.dedup_stream import (
    dedup_batch_sink,
    start_dedup_stream,
)


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "corpus": str(tmp_path / "corpus"),
        "fps": str(tmp_path / "fps"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _write_chunk(path, rows):
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)


def _drain(spark, env):
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(env["src"])
    )
    q = start_dedup_stream(
        stream,
        corpus_path=env["corpus"],
        fp_path=env["fps"],
        checkpoint_path=env["ckpt"],
        available_now=True,
    )
    q.awaitTermination(120)


def test_streaming_dedup_appends_novel_only(spark, env):
    _write_chunk(
        env["src"] / "c1.parquet",
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],  # 3 dups 1
    )
    _drain(spark, env)
    corpus = {r["doc_id"] for r in spark.read.parquet(env["corpus"]).collect()}
    assert corpus == {1, 2}  # in-batch dup dropped, min-id survived

    _write_chunk(
        env["src"] / "c2.parquet",
        [(4, "gamma delta"), (5, "epsilon zeta")],  # 4 dups corpus content
    )
    _drain(spark, env)
    corpus = {r["doc_id"] for r in spark.read.parquet(env["corpus"]).collect()}
    assert corpus == {1, 2, 5}
    assert spark.read.parquet(env["fps"]).count() == 3  # one fp per content


def test_replayed_batch_contributes_nothing(spark, env):
    """Content-level idempotence: delivering the same batch twice (the
    crash-replay case) appends nothing the second time because the fp
    table already contains the content."""
    sink = dedup_batch_sink(spark, corpus_path=env["corpus"], fp_path=env["fps"])
    batch = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    sink(batch, 0)
    sink(batch, 0)  # replay
    assert spark.read.parquet(env["corpus"]).count() == 2
    assert spark.read.parquet(env["fps"]).count() == 2
