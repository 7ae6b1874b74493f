"""CDC / event-hygiene operator semantics (operators/cdc.py) on
hand-crafted changelogs — the edge cases the sf-table oracle rows
don't isolate."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from takuan_zoo.operators import cdc


def _ts(s: int):
    return datetime(2026, 1, 1) + timedelta(seconds=s)


@pytest.fixture()
def log(spark):
    rows = [
        # user 1: insert, two updates -> survives with last value
        (1, _ts(0), 1, "signup", 1.0),
        (2, _ts(1), 1, "click", 2.0),
        (3, _ts(2), 1, "purchase", 3.0),
        # user 2: insert then delete LAST -> absent from merge snapshot
        (4, _ts(0), 2, "signup", 9.0),
        (5, _ts(5), 2, "error", 0.0),
        # user 3: delete then later activity -> reborn with post-delete
        (6, _ts(0), 3, "error", 0.0),
        (7, _ts(1), 3, "view", 7.0),
        # user 4: same-ts tie broken by event_id (9 wins over 8)
        (8, _ts(4), 4, "click", 1.0),
        (9, _ts(4), 4, "view", 2.0),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )


def test_latest_snapshot_last_writer_and_tiebreak(log):
    snap = {
        r["user_id"]: r
        for r in cdc.latest_snapshot(
            log,
            key_col="user_id",
            ts_col="ts",
            id_col="event_id",
            value_cols=["event_type", "value"],
        ).collect()
    }
    assert snap[1]["event_type"] == "purchase" and snap[1]["n_changes"] == 3
    assert snap[2]["event_type"] == "error"
    # equal ts: higher event_id wins
    assert snap[4]["event_type"] == "view" and snap[4]["value"] == 2.0


def test_merge_snapshot_tombstone_semantics(log):
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    snap = {
        r["user_id"]: r
        for r in cdc.merge_snapshot(
            log,
            key_col="user_id",
            ts_col="ts",
            id_col="event_id",
            op_col=op,
            value_col="value",
        ).collect()
    }
    assert set(snap) == {1, 3, 4}  # user 2 deleted last -> absent
    assert snap[1]["n_live_ops"] == 3 and snap[1]["last_value"] == 3.0
    # user 3: only the post-tombstone row counts
    assert snap[3]["n_live_ops"] == 1 and snap[3]["last_op"] == "U"


def test_dedup_within_window_burst_semantics(spark):
    rows = [
        # burst of three 100s apart (window 300): one survivor
        (1, _ts(0), 1, "click"),
        (2, _ts(100), 1, "click"),
        (3, _ts(200), 1, "click"),
        # 400s gap -> new burst
        (4, _ts(600), 1, "click"),
        # different type: independent key, never a dup
        (5, _ts(0), 1, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        r["event_id"]: r["_dup"]
        for r in cdc.dedup_within_window(
            ev,
            key_cols=["user_id", "event_type"],
            ts_col="ts",
            id_col="event_id",
            window_secs=300,
        ).collect()
    }
    assert out == {1: False, 2: True, 3: True, 4: False, 5: False}


def test_last_touch_horizon_and_organic(spark):
    rows = [
        (1, _ts(0), 1, "click", 0.0),
        (2, _ts(10), 1, "purchase", 5.0),  # attributed to click
        (3, _ts(500), 1, "purchase", 7.0),  # click outside 60s horizon
        (4, _ts(0), 2, "purchase", 9.0),  # nothing before -> organic
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    att = {
        r["event_id"]: r["touch_type"]
        for r in cdc.last_touch(
            ev,
            key_col="user_id",
            ts_col="ts",
            id_col="event_id",
            is_conversion=F.col("event_type") == "purchase",
            touch_col="event_type",
            horizon_secs=60,
        ).collect()
    }
    assert att == {2: "click", 3: None, 4: None}
