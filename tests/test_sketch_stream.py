"""Streaming KMV maintenance: merged-at-read estimates equal the batch
sketch over all ingested data; replays do not move the estimate."""

from __future__ import annotations

import pandas as pd
import pytest

from takuan_zoo.operators.sketches import kmv_distinct
from takuan_zoo.streaming.sketch_stream import (
    kmv_sketch_sink,
    kmv_stream_estimate,
    start_kmv_sketch_stream,
)

K = 16


def _batch(start, n):
    rows = [
        {"source": f"s{i % 3}", "tok": f"tok{start + i}"} for i in range(n)
    ]
    # overlap: every batch repeats some tokens so distinct != count
    rows += [{"source": f"s{i % 3}", "tok": f"tok{i}"} for i in range(10)]
    return pd.DataFrame(rows)


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "table": str(tmp_path / "sketches"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, env):
    stream = spark.readStream.schema("source string, tok string").parquet(
        str(env["src"])
    )
    q = start_kmv_sketch_stream(
        stream, env["table"], env["ckpt"],
        group_cols=["source"], value_col="tok", k=K,
        available_now=True,
    )
    q.awaitTermination(120)


def test_stream_estimate_equals_batch_sketch(spark, env):
    _batch(0, 40).to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    _batch(200, 40).to_parquet(env["src"] / "b2.parquet")
    _drain(spark, env)
    got = {
        r["source"]: (r["est_distinct"], r["n_kept"])
        for r in kmv_stream_estimate(
            spark, env["table"], group_cols=["source"], k=K
        ).collect()
    }
    want = {
        r["source"]: (r["est_distinct"], r["n_kept"])
        for r in kmv_distinct(
            spark.read.parquet(str(env["src"])),
            group_cols=["source"], value_col="tok", k=K,
        ).collect()
    }
    assert got == want  # merge-at-read == one-shot batch sketch


def test_replayed_epoch_does_not_move_the_estimate(spark, env):
    batch = spark.createDataFrame(_batch(0, 30))
    sink = kmv_sketch_sink(
        env["table"], group_cols=["source"], value_col="tok", k=K
    )
    sink(batch, 0)
    first = kmv_stream_estimate(
        spark, env["table"], group_cols=["source"], k=K
    ).collect()
    sink(batch, 0)  # replay same epoch
    second = kmv_stream_estimate(
        spark, env["table"], group_cols=["source"], k=K
    ).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_cms_stream_estimate_equals_batch_grid(spark, env):
    from takuan_zoo.operators.sketches import cms_counters, cms_estimate
    from takuan_zoo.streaming.sketch_stream import (
        cms_stream_estimate,
        start_cms_sketch_stream,
    )

    _batch(0, 40).to_parquet(env["src"] / "b1.parquet")
    stream = spark.readStream.schema("source string, tok string").parquet(
        str(env["src"])
    )
    q = start_cms_sketch_stream(
        stream, env["table"], env["ckpt"],
        group_cols=["source"], value_col="tok",
        available_now=True,
    )
    q.awaitTermination(120)
    _batch(200, 40).to_parquet(env["src"] / "b2.parquet")
    q = start_cms_sketch_stream(
        stream, env["table"], env["ckpt"],
        group_cols=["source"], value_col="tok",
        available_now=True,
    )
    q.awaitTermination(120)
    probes = spark.createDataFrame(
        [("tok0",), ("tok5",), ("never-seen",)], ["term"]
    )
    got = sorted(
        map(tuple, cms_stream_estimate(
            spark, env["table"], probes, group_cols=["source"]
        ).collect())
    )
    want = sorted(
        map(tuple, cms_estimate(
            cms_counters(
                spark.read.parquet(str(env["src"])),
                group_cols=["source"], value_col="tok",
            ),
            probes, group_cols=["source"],
        ).collect())
    )
    assert got == want
    # absent terms estimate 0 through the streamed grids too
    assert all(t[2] == 0 for t in got if t[1] == "never-seen")


def test_compaction_folds_epochs_without_changing_estimates(spark, env):
    from takuan_zoo.streaming.sketch_stream import (
        compact_kmv_epochs,
        kmv_sketch_sink,
    )
    import os

    sink = kmv_sketch_sink(
        env["table"], group_cols=["source"], value_col="tok", k=K
    )
    sink(spark.createDataFrame(_batch(0, 30)), 0)
    sink(spark.createDataFrame(_batch(100, 30)), 1)
    sink(spark.createDataFrame(_batch(300, 30)), 2)
    before = sorted(map(tuple, kmv_stream_estimate(
        spark, env["table"], group_cols=["source"], k=K
    ).collect()))
    compact_kmv_epochs(spark, env["table"], group_cols=["source"], k=K)
    epochs = [d for d in os.listdir(env["table"]) if d.startswith("epoch=")]
    assert epochs == ["epoch=0"]
    after = sorted(map(tuple, kmv_stream_estimate(
        spark, env["table"], group_cols=["source"], k=K
    ).collect()))
    assert before == after


def test_compaction_spares_uncommitted_epoch_from_double_count(spark, env, tmp_path):
    """The kill-after-sink-before-commit window: epoch 2's parquet
    landed but the checkpoint never committed it. Compacting with the
    checkpoint's committed horizon must NOT fold epoch 2 — the
    restarted stream replays it, and folding first would double-count
    the batch in the CMS sums."""
    import os

    from takuan_zoo.operators.sketches import cms_counters, cms_estimate
    from takuan_zoo.streaming.sketch_stream import (
        cms_sketch_sink,
        cms_stream_estimate,
        compact_cms_epochs,
    )

    sink = cms_sketch_sink(env["table"], group_cols=["source"], value_col="tok")
    b0, b1, b2 = (spark.createDataFrame(_batch(i * 100, 25)) for i in range(3))
    sink(b0, 0)
    sink(b1, 1)
    sink(b2, 2)  # written but NOT committed (crash window)
    ckpt = tmp_path / "ck"
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "0").write_text("{}")
    (ckpt / "commits" / "1").write_text("{}")
    compact_cms_epochs(
        spark, env["table"], group_cols=["source"], checkpoint_path=str(ckpt)
    )
    epochs = sorted(
        d for d in os.listdir(env["table"]) if d.startswith("epoch=")
    )
    assert epochs == ["epoch=0", "epoch=2"]  # uncommitted epoch survives
    sink(b2, 2)  # the replay after restart (dynamic overwrite)
    probes = spark.createDataFrame([("tok0",), ("tok101",)], ["term"])
    got = sorted(map(tuple, cms_stream_estimate(
        spark, env["table"], probes, group_cols=["source"]
    ).collect()))
    want = sorted(map(tuple, cms_estimate(
        cms_counters(
            b0.unionByName(b1).unionByName(b2),
            group_cols=["source"], value_col="tok",
        ),
        probes, group_cols=["source"],
    ).collect()))
    assert got == want  # exactly-once counts survived compact + replay


def test_hll_stream_estimate_equals_batch_sketch(spark, env):
    from takuan_zoo.operators.sketches import hll_distinct
    from takuan_zoo.streaming.sketch_stream import (
        hll_stream_estimate,
        start_hll_sketch_stream,
    )

    table = env["table"] + "_hll"
    ckpt = env["ckpt"] + "_hll"
    for start, fname in ((0, "b1.parquet"), (200, "b2.parquet")):
        _batch(start, 40).to_parquet(env["src"] / fname)
        stream = spark.readStream.schema(
            "source string, tok string"
        ).parquet(str(env["src"]))
        q = start_hll_sketch_stream(
            stream, table, ckpt,
            group_cols=["source"], value_col="tok", available_now=True,
        )
        q.awaitTermination(120)
    got = {
        tuple(r)
        for r in hll_stream_estimate(
            spark, table, group_cols=["source"]
        ).collect()
    }
    want = {
        tuple(r)
        for r in hll_distinct(
            spark.read.parquet(str(env["src"])),
            group_cols=["source"], value_col="tok",
        ).collect()
    }
    assert got == want  # max-merge at read == one-shot batch sketch


def test_hist_stream_quantiles_equal_batch_and_compact(spark, env, tmp_path):
    import pandas as pd

    from takuan_zoo.operators.sketches import histogram_quantiles, histogram_sketch
    from takuan_zoo.streaming.sketch_stream import (
        compact_hist_epochs,
        hist_stream_quantiles,
        start_hist_sketch_stream,
    )

    src = tmp_path / "hist_src"
    src.mkdir()
    table = str(tmp_path / "hist_table")
    ckpt = str(tmp_path / "hist_ckpt")
    kw = dict(group_cols=["g"], lo=0.0, hi=100.0, bins=20)
    for start, fname in ((0, "b1.parquet"), (37, "b2.parquet")):
        pd.DataFrame(
            {"g": ["a"] * 60, "v": [(start + i) % 100 * 1.0 for i in range(60)]}
        ).to_parquet(src / fname)
        stream = spark.readStream.schema("g string, v double").parquet(
            str(src)
        )
        q = start_hist_sketch_stream(
            stream, table, ckpt, value_col="v", available_now=True, **kw
        )
        q.awaitTermination(120)
    want = [
        tuple(r)
        for r in histogram_quantiles(
            histogram_sketch(
                spark.read.parquet(str(src)), value_col="v", **kw
            ),
            **kw,
        ).orderBy("q").collect()
    ]
    got = [
        tuple(r)
        for r in hist_stream_quantiles(spark, table, **kw)
        .orderBy("q")
        .collect()
    ]
    assert got == want
    # compaction folds committed epochs without moving any estimate
    compact_hist_epochs(
        spark, table, group_cols=["g"], checkpoint_path=ckpt
    )
    after = [
        tuple(r)
        for r in hist_stream_quantiles(spark, table, **kw)
        .orderBy("q")
        .collect()
    ]
    assert after == want


def test_compaction_refuses_unreadable_checkpoint(spark, tmp_path):
    """A checkpoint path with no readable commits (mistyped, moved, or
    zero commits) must raise, not silently fold possibly-replayable
    epochs (which would double-count them on resume)."""
    import pytest as _pytest

    from takuan_zoo.streaming.sketch_stream import compact_cms_epochs

    table = str(tmp_path / "grids")
    spark.createDataFrame(
        [("s", 0, 1, 2, 7)], "source string, row int, bucket int, c long, epoch int"
    ).write.partitionBy("epoch").parquet(table)
    with _pytest.raises(ValueError, match="refusing to compact"):
        compact_cms_epochs(
            spark, table, group_cols=["source"],
            checkpoint_path=str(tmp_path / "no-such-checkpoint"),
        )
    # the table is untouched
    assert spark.read.parquet(table).count() == 1
