"""Unit tests for the time-series operators (bucketing semantics,
gap-fill spine shape, LOCF/interpolation edge behavior) on tiny
hand-built frames — the full-query oracle comparison lives in
test_oracle.py (q_gap_fill_interpolate / q_hypertable_rollup)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from takuan_zoo.operators import timeseries as tsops


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_time_bucket_sub_day_and_multi_day(spark):
    df = spark.createDataFrame(
        [(_ts("2024-03-05 10:37:59"),), (_ts("2024-03-06 00:00:00"),)],
        "ts timestamp_ntz",
    )
    out = df.select(
        tsops.time_bucket("ts", 900).alias("b15m"),
        tsops.time_bucket("ts", 86400).alias("b1d"),
        tsops.time_bucket("ts", 7 * 86400).alias("b7d"),
    ).collect()
    assert out[0]["b15m"] == _ts("2024-03-05 10:30:00")
    assert out[0]["b1d"] == _ts("2024-03-05 00:00:00")
    # 2024-03-05 is epoch day 19787 -> floor to 19782 = 2024-02-29
    assert out[0]["b7d"] == _ts("2024-02-29 00:00:00")
    assert out[1]["b15m"] == _ts("2024-03-06 00:00:00")


def test_time_bucket_rejects_unaligned_intervals(spark):
    df = spark.createDataFrame([(_ts("2024-01-01 00:00:00"),)], "ts timestamp_ntz")
    with pytest.raises(ValueError, match="divide 86400"):
        df.select(tsops.time_bucket("ts", 7000))
    with pytest.raises(ValueError, match="whole-day"):
        df.select(tsops.time_bucket("ts", 90000))


def test_gap_fill_locf_and_interp(spark):
    # One group, observations at minutes 0, 30 (gap at 10 and 20):
    # value 10.0 then 40.0 -> interp at minute 10 = 20.0, minute 20 = 30.0.
    series = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 00:00:00"), 10.0),
            ("a", _ts("2024-01-01 00:30:00"), 40.0),
        ],
        "g string, bucket timestamp_ntz, v double",
    )
    filled = tsops.gap_fill(
        series, group_cols=["g"], interval_secs=600, value_col="v"
    ).orderBy("bucket")
    rows = filled.collect()
    assert [r["bucket"].minute for r in rows] == [0, 10, 20, 30]
    assert [r["v"] for r in rows] == [10.0, None, None, 40.0]
    assert [r["locf_value"] for r in rows] == [10.0, 10.0, 10.0, 40.0]
    assert [r["interp_value"] for r in rows] == [10.0, 20.0, 30.0, 40.0]


def test_gap_fill_interp_null_outside_observations(spark):
    # Two groups; group b has a single observation -> no gaps, and the
    # fill columns equal the value itself. Group a starts with a value
    # and the spine never extends before the first / after the last
    # observation, so interp is never extrapolated.
    series = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01 00:00:00"), 1.0),
            ("a", _ts("2024-01-01 00:20:00"), None),
            ("b", _ts("2024-01-01 05:00:00"), 7.0),
        ],
        "g string, bucket timestamp_ntz, v double",
    )
    # note: a null VALUE at an observed bucket still counts as a spine
    # row; locf carries past it, interp bridges across it
    filled = tsops.gap_fill(
        series, group_cols=["g"], interval_secs=600, value_col="v"
    )
    rows = {(r["g"], r["bucket"].hour, r["bucket"].minute): r for r in filled.collect()}
    assert len(rows) == 4  # a: 00:00/00:10/00:20, b: 05:00
    assert rows[("b", 5, 0)]["locf_value"] == 7.0
    assert rows[("b", 5, 0)]["interp_value"] == 7.0
    # trailing null observation: locf carries 1.0, interp has no right
    # anchor -> null
    assert rows[("a", 0, 20)]["locf_value"] == 1.0
    assert rows[("a", 0, 20)]["interp_value"] is None


def test_rollup_merge_resolutions(spark):
    df = spark.createDataFrame(
        [
            ("x", _ts("2024-01-01 03:00:00"), 1.0),
            ("x", _ts("2024-01-02 04:30:00"), 2.0),
            ("x", _ts("2024-01-02 04:45:00"), 3.0),
        ],
        "g string, ts timestamp_ntz, v double",
    )
    out = tsops.rollup_merge(
        df,
        ts_col="ts",
        cutoff="2024-01-02 00:00:00",
        coarse_secs=86400,
        fine_secs=3600,
        group_cols=["g"],
        aggs=[F.count("*").alias("n"), F.sum("v").alias("s")],
    ).collect()
    by_res = {r["resolution_secs"]: r for r in out}
    assert by_res[86400]["bucket"] == _ts("2024-01-01 00:00:00")
    assert by_res[86400]["n"] == 1
    assert by_res[3600]["bucket"] == _ts("2024-01-02 04:00:00")
    assert by_res[3600]["n"] == 2 and by_res[3600]["s"] == 5.0
