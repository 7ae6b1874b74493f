"""Session-window maintainer: partial intervals per epoch folded by the
running-max interval merge must equal global sessionization, for ANY
batch split — including interleaved ones a lag-based merge gets wrong —
and epoch replays must not double-count."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from takuan_zoo.streaming.session_stream import (
    merged_sessions,
    partial_sessions,
    session_sink,
    start_session_stream,
)

SCHEMA = "user_id long, ts timestamp"
T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _ev(rows):
    df = pd.DataFrame(
        [{"user_id": u, "ts": T0 + dt.timedelta(minutes=m)} for u, m in rows]
    )
    # micros, not pandas' nano default — Spark's streaming parquet
    # reader enforces the declared timestamp type
    return df.astype({"ts": "datetime64[us]"})


def _got(spark, table):
    return sorted(
        tuple(r)
        for r in merged_sessions(spark, table)
        .select("user_id", "s_start", "s_end", "n_events")
        .collect()
    )


def _want(spark, pdf):
    full = partial_sessions(spark.createDataFrame(pdf))
    return sorted(
        tuple(r)
        for r in full.select("user_id", "s_start", "s_end", "n_events").collect()
    )


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "table": str(tmp_path / "sessions"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, env):
    stream = spark.readStream.schema(SCHEMA).parquet(str(env["src"]))
    q = start_session_stream(
        stream, env["table"], env["ckpt"], available_now=True
    )
    q.awaitTermination(120)


def test_live_stream_fold_equals_global_sessions(spark, env):
    b1 = _ev([(1, 0), (1, 10), (1, 50), (2, 0), (2, 45)])
    b2 = _ev([(1, 70), (1, 200), (2, 60), (3, 5)])
    b1.to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    b2.to_parquet(env["src"] / "b2.parquet")
    _drain(spark, env)
    assert _got(spark, env["table"]) == _want(
        spark, pd.concat([b1, b2], ignore_index=True)
    )


def test_interleaved_split_requires_running_max_merge(spark, env):
    # batch 1 holds a LONG session [0, 50]; batch 2 holds a short
    # interval [5, 5] plus an event at 70 that chains off the LONG
    # session's end (70 - 50 = 20 <= 30) but not off the short one
    # (70 - 5 = 65 > 30). A lag-based sweep compares 70 against the
    # PREVIOUS interval's end (5) and wrongly splits; the running-max
    # sweep keeps the one global session.
    b1 = _ev([(7, 0), (7, 25), (7, 50)])
    b2 = _ev([(7, 5), (7, 70)])
    sink = session_sink(env["table"])
    sink(spark.createDataFrame(b1), 0)
    sink(spark.createDataFrame(b2), 1)
    got = _got(spark, env["table"])
    assert got == [
        (7, T0, T0 + dt.timedelta(minutes=70), 5)
    ]
    assert got == _want(spark, pd.concat([b1, b2], ignore_index=True))


def test_replayed_epoch_does_not_double_count(spark, env):
    batch = spark.createDataFrame(_ev([(1, 0), (1, 10), (2, 0)]))
    sink = session_sink(env["table"])
    sink(batch, 3)
    first = _got(spark, env["table"])
    sink(batch, 3)  # replay
    assert _got(spark, env["table"]) == first


def test_out_of_order_epochs_fold_identically(spark, env):
    # the same events split two ways — time-cut vs interleaved —
    # must fold to the same sessions (split invariance)
    rows = [(4, m) for m in (0, 12, 29, 31, 90, 111)]
    a, b = _ev(rows[:3]), _ev(rows[3:])
    odd = _ev(rows[::2])
    even = _ev(rows[1::2])
    t1, t2 = env["table"] + "_a", env["table"] + "_b"
    s1, s2 = session_sink(t1), session_sink(t2)
    s1(spark.createDataFrame(a), 0)
    s1(spark.createDataFrame(b), 1)
    s2(spark.createDataFrame(odd), 0)
    s2(spark.createDataFrame(even), 1)
    assert _got(spark, t1) == _got(spark, t2)
