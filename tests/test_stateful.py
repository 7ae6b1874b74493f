"""Tests for watermarked windows and the stateful brute-force detector
(custom stateful operator via applyInPandasWithState)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from takuan_zoo.streaming.stateful import brute_force_alerts
from takuan_zoo.streaming.windows import sessionized_counts, windowed_counts


def _sf_dirs():
    """All shipped testdata SF dirs — asserted non-empty so the
    per-SF non-vacuity guards below fail loudly on an empty mount
    instead of silently skipping their loops."""
    import glob

    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "no /root/testdata/sf* dirs; non-vacuity guard never ran"
    return dirs


def _write_events_chunk(path, rows):
    pdf = pd.DataFrame(rows, columns=["address", "created_at", "sensor", "rule"])
    # datetime64[us]: Spark's parquet reader rejects TIMESTAMP(NANOS)
    pdf["created_at"] = pd.to_datetime(pdf["created_at"]).astype("datetime64[us]")
    pdf.to_parquet(path)


@pytest.fixture()
def stream_env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _attack_rows():
    rows = []
    # 203.0.113.7: 6 failures in 30s -> alert at the 5th
    for i in range(6):
        rows.append(("203.0.113.7", f"2026-08-13 06:00:{i * 5:02d}", "ssh", "auth-failure"))
    # 10.0.0.1: 3 events only -> below threshold, no alert
    for i in range(3):
        rows.append(("10.0.0.1", f"2026-08-13 06:00:{i * 10:02d}", "ssh", "auth-failure"))
    # 198.51.100.9: 5 events spread over 10 min -> never 5 inside 60s
    for i in range(5):
        rows.append(("198.51.100.9", f"2026-08-13 06:{i * 2:02d}:00", "ssh", "auth-failure"))
    return rows


def _run_stream(spark, env, df_fn):
    schema = "address string, created_at timestamp, sensor string, rule string"
    stream = spark.readStream.schema(schema).parquet(str(env["src"]))
    out = df_fn(stream)
    q = (
        out.writeStream.format("parquet")
        .option("path", env["out"])
        .option("checkpointLocation", env["ckpt"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_brute_force_detector(spark, stream_env):
    _write_events_chunk(stream_env["src"] / "c1.parquet", _attack_rows())
    # idle_timeout_secs=None: availableNow drains then STOPS; with a
    # processing-time timeout armed it would wait out the idle timers.
    _run_stream(
        spark,
        stream_env,
        lambda s: brute_force_alerts(
            s, threshold=5, window_secs=60, cooldown_secs=300, idle_timeout_secs=None
        ),
    )
    alerts = spark.read.parquet(stream_env["out"]).collect()
    assert [a["address"] for a in alerts] == ["203.0.113.7"]
    assert alerts[0]["n_events"] == 5


def test_brute_force_state_carries_across_batches(spark, stream_env):
    # 3 events in batch 1, 2 more (within the window) in batch 2:
    # the alert must fire in batch 2 off carried state.
    rows = [("7.7.7.7", f"2026-08-13 06:00:{i:02d}", "ssh", "r") for i in range(3)]
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)
    detector = lambda s: brute_force_alerts(  # noqa: E731
        s, threshold=5, window_secs=60, cooldown_secs=300, idle_timeout_secs=None
    )
    _run_stream(spark, stream_env, detector)
    import os

    assert not os.path.exists(stream_env["out"]) or not [
        f for f in os.listdir(stream_env["out"]) if f.endswith(".parquet")
    ] or spark.read.parquet(stream_env["out"]).count() == 0

    rows2 = [("7.7.7.7", f"2026-08-13 06:00:{30 + i:02d}", "ssh", "r") for i in range(2)]
    _write_events_chunk(stream_env["src"] / "c2.parquet", rows2)
    _run_stream(spark, stream_env, detector)
    alerts = spark.read.parquet(stream_env["out"]).collect()
    assert len(alerts) == 1 and alerts[0]["address"] == "7.7.7.7"


def test_alert_buffer_update_fn_seals_by_watermark_not_arrival():
    """The unordered-arrival detector fold: event seconds buffer in
    state and seal into the alert fold only strictly below
    floor(watermark), so an inverted delivery yields exactly the
    alerts the ordered protocol gives — while the ordered fold on the
    same feed emits a MALFORMED alert (window_start > window_end),
    the non-vacuity of q_stream_bruteforce_unordered's arrival
    protocol."""
    from takuan_zoo.streaming.stateful import (
        make_alert_buffer_update_fn,
        make_update_fn,
    )

    flush_ms = 10**15
    fn = make_alert_buffer_update_fn(
        threshold=2, window_secs=3600, cooldown_secs=0, flush_at_ms=flush_ms
    )

    def _pdf(secs):
        return pd.DataFrame(
            {"ts": pd.to_datetime(pd.Series(secs), unit="s")}
        )

    # inverted delivery: [2400s] then [0s] — truth: alert at 2400 with
    # window [0, 2400] (both inside the 1 h window)
    st = _FakeState()
    assert list(fn(("-1",), iter([_pdf([2400])]), st)) == []
    assert list(fn(("-1",), iter([_pdf([0])]), st)) == []
    # nothing sealed (watermark 0): no alert yet, both pending
    recent_csv, last_alert, buf = st.get
    assert recent_csv == "" and last_alert is None and len(buf) == 2 * 8
    assert st.timeout_ts_ms == flush_ms

    # watermark passes 1000s -> seals [0] only; still below threshold
    st.watermark_ms = 1_000_000
    assert list(fn(("-1",), iter([]), st)) == []
    assert st.get[0] == "0" and len(st.get[2]) == 1 * 8

    # watermark passes 3000s -> seals [2400]: the alert fires with the
    # CORRECT orientation, off state carried across the inversion
    st.watermark_ms = 3_000_000
    (out,) = list(fn(("-1",), iter([]), st))
    row = out.iloc[0].to_dict()
    assert row["n_events"] == 2
    assert row["window_start"] == pd.Timestamp(0, unit="s")
    assert row["window_end"] == pd.Timestamp(2400, unit="s")

    # timeout: nothing pending -> no output, state removed
    st.hasTimedOut = True
    assert list(fn(("-1",), iter([]), st)) == []
    assert st.removed

    # negative control: the ORDERED fold on the same inverted feed
    # fires the alert at the WRONG event with an inverted window
    fo = make_update_fn(
        time_col="created_at",
        threshold=2,
        window_secs=3600,
        cooldown_secs=0,
        idle_timeout_secs=None,
    )
    st2 = _FakeState()

    def _pdf_o(secs):
        return pd.DataFrame(
            {"created_at": pd.to_datetime(pd.Series(secs), unit="s")}
        )

    assert list(fo(("-1",), iter([_pdf_o([2400])]), st2)) == []
    (bad,) = list(fo(("-1",), iter([_pdf_o([0])]), st2))
    brow = bad.iloc[0].to_dict()
    assert brow["window_start"] > brow["window_end"], (
        "the ordered fold should be provably wrong on inverted "
        "arrival; if this starts passing, the negative control is "
        "vacuous"
    )


def test_alert_buffer_fold_matches_ordered_on_sorted_feed():
    """Sealing prefix-at-a-time must equal the ordered fold on the
    same sorted sequence — including cooldown re-arm across seal
    boundaries (the doubly-order-dependent part)."""
    from takuan_zoo.streaming.stateful import (
        make_alert_buffer_update_fn,
        make_update_fn,
    )

    secs = [0, 30, 60, 3000, 3030, 9000, 9030, 9060]
    kw = dict(threshold=3, window_secs=100, cooldown_secs=5000)

    fo = make_update_fn(
        time_col="created_at", idle_timeout_secs=None, **kw
    )
    st_o = _FakeState()
    ordered_out = []
    for out in fo(
        ("k",),
        iter(
            [
                pd.DataFrame(
                    {"created_at": pd.to_datetime(pd.Series(secs), unit="s")}
                )
            ]
        ),
        st_o,
    ):
        ordered_out.append(out)

    fb = make_alert_buffer_update_fn(flush_at_ms=10**15, **kw)
    st_b = _FakeState()
    buffered_out = []
    # deliver shuffled, seal in three watermark steps + timeout
    feed = [9030, 30, 3000, 0, 9000, 60, 3030, 9060]
    buffered_out += list(
        fb(
            ("k",),
            iter([pd.DataFrame({"ts": pd.to_datetime(pd.Series(feed), unit="s")})]),
            st_b,
        )
    )
    for wm in (40, 3500):
        st_b.watermark_ms = wm * 1000
        buffered_out += list(fb(("k",), iter([]), st_b))
    st_b.hasTimedOut = True
    buffered_out += list(fb(("k",), iter([]), st_b))

    a = pd.concat(ordered_out, ignore_index=True)
    b = pd.concat(buffered_out, ignore_index=True)
    pd.testing.assert_frame_equal(a, b)


def test_brute_force_eviction_timer_real_engine(spark, stream_env):
    """The idle-eviction timer on the REAL engine (the fake-state unit
    tests below pin the hasTimedOut -> remove() semantics; this pins
    that ProcessingTimeTimeout actually drives them in a live query):
    one key arrives, its 2 s idle timer is armed, and under a live
    micro-batch trigger the no-data batches that follow must run the
    timeout sweep and evict the key — visible as numRowsRemoved in the
    state-operator metrics. availableNow runs use idle_timeout=None
    precisely because these sweeps would otherwise hold the drain
    open (the documented drain-and-stop contract)."""
    import time

    _write_events_chunk(
        stream_env["src"] / "c1.parquet",
        [("9.9.9.9", "2026-08-13 06:00:00", "ssh", "r")],
    )
    schema = "address string, created_at timestamp, sensor string, rule string"
    stream = spark.readStream.schema(schema).parquet(str(stream_env["src"]))
    out = brute_force_alerts(
        stream,
        threshold=100,
        window_secs=60,
        cooldown_secs=0,
        idle_timeout_secs=2,
    )
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", stream_env["ckpt"])
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        added = evicted = False
        while time.time() < deadline and not evicted:
            for p in q.recentProgress:
                for op in p.get("stateOperators", []):
                    if op.get("numRowsTotal", 0) > 0:
                        added = True
                    if op.get("numRowsRemoved", 0) > 0:
                        evicted = True
            time.sleep(0.5)
    finally:
        q.stop()
    assert added, "the key never reached the state store"
    assert evicted, (
        "the idle timer never evicted the key: no progress entry "
        "reported numRowsRemoved > 0 within 90 s"
    )


def test_bruteforce_probe_geometry_and_natural_alerts_at_every_sf():
    """Non-vacuity pins for q_stream_bruteforce_alerts at EVERY
    shipped SF: (a) the cross-boundary probe pair's geometry holds —
    the quartile span dwarfs the +/- 1200 s bracket, so probe-1 lands
    in epoch file 0 and probe-2 in file 1 and the probe alert's
    window straddles the boundary by construction; (b) real-address
    alerts exist (the probe is a floor, not the whole answer); and
    (c) the second-distinct error feed is non-trivially deduped-safe
    (>= 2 per-address seconds somewhere)."""
    import datetime

    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        lo, hi, n_err = con.sql(
            f"""
            SELECT MIN(date_trunc('second', ts)),
                   MAX(date_trunc('second', ts)), COUNT(*)
            FROM read_parquet('{d}/events.parquet')
            WHERE event_type = 'error'
            """
        ).fetchone()
        assert n_err > 0, f"{d}: no error events"
        # the exact file-boundary arithmetic of
        # _write_epoch_files_one_job: span_us = ((hi-lo)/4) // 1us
        span_us = ((hi - lo) / 4) // datetime.timedelta(microseconds=1)
        lo_s = (lo - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
            seconds=1
        )
        hi_s = (hi - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
            seconds=1
        )
        b_sec = lo_s + (hi_s - lo_s) // 4
        for off, want_ep in ((-1200, 0), (1200, 1)):
            rel_us = (b_sec + off) * 1_000_000 - lo_s * 1_000_000
            ep = min(3, rel_us // span_us)
            assert ep == want_ep, (
                f"{d}: probe at {off:+} s lands in epoch {ep}, "
                f"wanted {want_ep} — the straddle is vacuous"
            )
        n_alerts = con.sql(
            f"""
            WITH errs AS (
                SELECT DISTINCT CAST(user_id AS VARCHAR) address,
                       date_diff('second', TIMESTAMP '1970-01-01',
                                 date_trunc('second', ts)) sec
                FROM read_parquet('{d}/events.parquet')
                WHERE event_type = 'error'
            ),
            w AS (
                SELECT COUNT(*) OVER win n FROM errs
                WINDOW win AS (PARTITION BY address ORDER BY sec
                               RANGE BETWEEN 3599 PRECEDING
                                     AND CURRENT ROW)
            )
            SELECT COUNT(*) FROM w WHERE n >= 2
            """
        ).fetchone()[0]
        assert n_alerts > 0, (
            f"{d}: no real-address alert; the detector row would be "
            f"probe-only there"
        )
    con.close()


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the update fn."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ts_ms = ms

    def getCurrentWatermarkMs(self):
        return getattr(self, "watermark_ms", 0)


def test_update_fn_evicts_on_timeout_and_bounds_state_by_time():
    from takuan_zoo.streaming.stateful import make_update_fn

    fn = make_update_fn(
        time_col="created_at",
        threshold=5,
        window_secs=60,
        cooldown_secs=300,
        idle_timeout_secs=360,
    )
    # timed-out group: state removed, nothing emitted
    st = _FakeState(value=("100,200", 100), timed_out=True)
    assert list(fn(("1.2.3.4",), iter([]), st)) == []
    assert st.removed and not st.exists

    # heavy burst: MORE than threshold*4 events inside one window must
    # all be retained (the old fixed-count truncation dropped some)
    base = pd.Timestamp("2026-08-13 06:00:00")
    n = 30  # > threshold*4 = 20
    pdf = pd.DataFrame(
        {"created_at": [base + pd.Timedelta(seconds=i) for i in range(n)]}
    )
    st2 = _FakeState()
    list(fn(("5.6.7.8",), iter([pdf]), st2))
    recent_csv, _ = st2.get
    kept = [int(x) for x in recent_csv.split(",") if x]
    assert len(kept) == n  # all 30 are inside the 60s window
    assert st2.timeout_ms == 360 * 1000  # idle-eviction clock re-armed

    # events older than the window relative to the newest are dropped
    pdf2 = pd.DataFrame({"created_at": [base + pd.Timedelta(seconds=120)]})
    list(fn(("5.6.7.8",), iter([pdf2]), st2))
    kept2 = [int(x) for x in st2.get[0].split(",") if x]
    assert kept2 == [int((base + pd.Timedelta(seconds=120)).timestamp())]


def test_update_fn_max_state_events_caps_hot_key_state():
    """A hot key at very high rate grows the uncapped timestamp list
    linearly within window_secs; with max_state_events=K the list is
    hard-capped at K (most recent kept), the alert still fires (K >=
    threshold), and n_events saturates at K — the bounded-state guard
    for adversarial floods."""
    from takuan_zoo.streaming.stateful import make_update_fn

    fn = make_update_fn(
        time_col="created_at",
        threshold=5,
        window_secs=60,
        cooldown_secs=0,
        idle_timeout_secs=None,
        max_state_events=8,
    )
    base = pd.Timestamp("2026-08-13 06:00:00")
    # 200 events in 20 s — all inside one window; uncapped state would
    # hold all 200
    pdf = pd.DataFrame(
        {
            "created_at": [
                base + pd.Timedelta(milliseconds=100 * i) for i in range(200)
            ]
        }
    )
    st = _FakeState()
    alerts = pd.concat(list(fn(("9.9.9.9",), iter([pdf]), st)))
    kept = [int(x) for x in st.get[0].split(",") if x]
    assert len(kept) <= 8, f"state grew to {len(kept)} despite the cap"
    assert len(alerts) > 0, "cap must not suppress alerts"
    assert alerts["n_events"].max() <= 8, "census must saturate at the cap"

    # a cap below threshold could suppress alerts — constructor refuses
    import pytest as _pytest

    from takuan_zoo.streaming.stateful import brute_force_alerts

    with _pytest.raises(ValueError, match="must be >= threshold"):
        brute_force_alerts(None, threshold=5, max_state_events=3)


def test_gap_update_fn_carries_state_and_flushes_on_timeout():
    from takuan_zoo.streaming.stateful import make_gap_update_fn

    flush_ms = 1_000_000_000
    fn = make_gap_update_fn("user_id", flush_ms)

    # batch 1: events at 0s, 10s (micros) — no emission, state carried
    st = _FakeState()
    out = list(fn((7,), iter([pd.DataFrame({"ts_us": [10_000_000, 0]})]), st))
    assert out == []
    assert st.get == (0, 10_000_000, 10_000_000, 2)
    assert st.timeout_ts_ms == flush_ms

    # batch 2: event at 100s — the 90s CROSS-BATCH gap must come from
    # carried state (batch-local lag would see a single event, gap None)
    out = list(fn((7,), iter([pd.DataFrame({"ts_us": [100_000_000]})]), st))
    assert out == []
    assert st.get == (0, 100_000_000, 90_000_000, 3)

    # the timeout re-arm must clamp ABOVE the current watermark: Spark
    # rejects a timeout at/behind it, and the sentinel key's final-batch
    # re-arm runs with the watermark already past flush_at_ms
    st.watermark_ms = flush_ms + 500
    list(fn((7,), iter([pd.DataFrame({"ts_us": [200_000_000]})]), st))
    assert st.timeout_ts_ms == flush_ms + 501

    # timeout: emit the final row, remove state
    st2 = _FakeState(value=(0, 100_000_000, 90_000_000, 3), timed_out=True)
    (row_df,) = list(fn((7,), iter([]), st2))
    assert st2.removed
    assert row_df.iloc[0].to_dict() == {
        "user_id": 7,
        "n_events": 3,
        "first_us": 0,
        "last_us": 100_000_000,
        "max_gap_us": 90_000_000,
    }

    # single-event key: max_gap stays NULL (matches the lag() oracle)
    st3 = _FakeState()
    list(fn((9,), iter([pd.DataFrame({"ts_us": [5]})]), st3))
    assert st3.get == (5, 5, None, 1)


def test_gap_buffer_update_fn_seals_by_watermark_not_arrival():
    """The unordered-arrival variant: event times are buffered in state
    and sealed into the fold only once the watermark passes them, so an
    inverted delivery yields the same answer the ordered protocol
    gives — while the ordered fold on the same feed is provably wrong
    (the non-vacuity of q_stream_unordered_state's arrival protocol)."""
    from takuan_zoo.streaming.stateful import (
        make_gap_buffer_update_fn,
        make_gap_update_fn,
    )

    flush_ms = 10**15
    fn = make_gap_buffer_update_fn("user_id", flush_ms)

    # inverted delivery: [100s] then [0s, 10s] — truth: gaps 10s, 90s
    st = _FakeState()
    assert list(fn((7,), iter([pd.DataFrame({"ts_us": [100_000_000]})]), st)) == []
    assert list(fn((7,), iter([pd.DataFrame({"ts_us": [10_000_000, 0]})]), st)) == []
    # nothing sealed yet (watermark 0): fold empty, 3 times pending
    assert st.get[:4] == (None, None, None, 0)
    assert len(st.get[4]) == 3 * 8
    assert st.timeout_ts_ms == flush_ms

    # watermark passes 50s -> MID-STREAM seal of the [0, 10s] prefix;
    # 100s (>= wm) stays buffered
    st.watermark_ms = 50_000
    assert list(fn((7,), iter([pd.DataFrame({"ts_us": [200_000_000]})]), st)) == []
    assert st.get[:4] == (0, 10_000_000, 10_000_000, 2)
    assert len(st.get[4]) == 2 * 8

    # timeout: remaining buffer seals, final row matches the lag() truth
    st.hasTimedOut = True
    (row,) = list(fn((7,), iter([]), st))
    assert st.removed
    assert row.iloc[0].to_dict() == {
        "user_id": 7,
        "n_events": 4,
        "first_us": 0,
        "last_us": 200_000_000,
        "max_gap_us": 100_000_000,
    }

    # negative control: the ORDERED fold on the same inverted feed
    # computes a gap spanning the inversion — wrong first/last/max_gap
    st2 = _FakeState()
    fo = make_gap_update_fn("user_id", flush_ms)
    list(fo((7,), iter([pd.DataFrame({"ts_us": [100_000_000]})]), st2))
    list(fo((7,), iter([pd.DataFrame({"ts_us": [10_000_000, 0]})]), st2))
    list(fo((7,), iter([pd.DataFrame({"ts_us": [200_000_000]})]), st2))
    assert st2.get != (0, 200_000_000, 100_000_000, 4), (
        "the ordered fold handled unordered arrival; the buffered "
        "variant (and its registered row) would be vacuous"
    )

    # a seal-boundary TIE stays buffered (strictly-below contract)
    st3 = _FakeState()
    st3.watermark_ms = 10  # wm_us = 10_000
    list(fn((9,), iter([pd.DataFrame({"ts_us": [10_000, 3_000]})]), st3))
    assert st3.get[:4] == (3_000, 3_000, None, 1)
    assert len(st3.get[4]) == 8  # the tie at exactly wm_us


def test_custom_state_max_gap_crosses_epoch_batches():
    """Non-vacuity guard for q_stream_custom_state: at EVERY shipped SF
    some user's TRUE max inter-arrival gap must sit between two events
    in DIFFERENT time-quartile epochs — strictly larger than any of
    that user's within-epoch gaps — so an implementation that lost
    applyInPandasWithState state between micro-batches would compute a
    smaller max gap there and hash-red against the lag() oracle."""

    import duckdb

    con = duckdb.connect()
    for sf_dir in _sf_dirs():
        n = con.sql(
            f"""
            WITH span AS (
                SELECT MIN(ts) AS lo, MAX(ts) AS hi
                FROM read_parquet('{sf_dir}/events.parquet')
            ),
            ev AS (
                SELECT user_id, ts, LEAST(CAST(3 AS BIGINT), CAST(FLOOR(
                    4.0 * EXTRACT(EPOCH FROM ts - span.lo)
                        / NULLIF(EXTRACT(EPOCH FROM span.hi - span.lo), 0)
                ) AS BIGINT)) AS ep
                FROM read_parquet('{sf_dir}/events.parquet'), span
            ),
            gaps AS (
                SELECT user_id,
                       ts - lag(ts) OVER w AS gap,
                       ep,
                       lag(ep) OVER w AS prev_ep
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            )
            SELECT COUNT(*) FROM (
                SELECT user_id,
                       MAX(CASE WHEN ep <> prev_ep THEN gap END) AS cross_gap,
                       MAX(CASE WHEN ep = prev_ep THEN gap END) AS within_gap
                FROM gaps
                WHERE gap IS NOT NULL
                GROUP BY user_id
                HAVING cross_gap > COALESCE(within_gap,
                                            INTERVAL '-1' SECOND)
            )
            """
        ).fetchone()[0]
        assert n > 0, (
            f"{sf_dir}: no user's max gap straddles an epoch boundary; "
            f"cross-batch state carry untested"
        )
    con.close()


def test_checkpoint_restart_boundary_window_straddles_runs():
    """Non-vacuity guard for q_stream_checkpoint_restart: at EVERY
    shipped SF some (day, event_type) window must have events on BOTH
    sides of the restart boundary (2 of 7 span-septiles — chosen
    because the corpus spans ~30 days minus seconds, so every
    small-denominator span fraction lands within seconds of midnight
    and one side of the straddling window would be nearly empty).
    That window is still open when run 1 stops (its end is inside the
    watermark horizon of e1's max by construction), so its run-1 events
    exist only in checkpointed state — a restart that lost state emits
    it with only the run-2 count and hash-reds against the oracle. If
    no window straddled the boundary, a state-dropping restart would
    pass and the row would certify nothing beyond two disjoint runs.
    Also pins that run 1 flushes finalized rows (days fully behind the
    boundary exist), so re-emission after restart is detectable."""

    import duckdb

    from takuan_zoo.queries.stream_analog import _RESTART_AFTER, _RESTART_EPOCHS

    con = duckdb.connect()
    for sf_dir in _sf_dirs():
        straddle, finalized = con.sql(
            f"""
            WITH span AS (
                SELECT MIN(ts) AS lo, MAX(ts) AS hi
                FROM read_parquet('{sf_dir}/events.parquet')
            ),
            ev AS (
                SELECT event_type, date_trunc('day', ts) AS w,
                       LEAST(CAST({_RESTART_EPOCHS - 1} AS BIGINT),
                             CAST(FLOOR(
                           {_RESTART_EPOCHS}.0
                               * EXTRACT(EPOCH FROM ts - span.lo)
                               / NULLIF(EXTRACT(
                                     EPOCH FROM span.hi - span.lo), 0)
                       ) AS BIGINT)) AS ep
                FROM read_parquet('{sf_dir}/events.parquet'), span
            )
            SELECT
              (SELECT COUNT(*) FROM (
                  SELECT w, event_type FROM ev GROUP BY w, event_type
                  HAVING SUM(CASE WHEN ep < {_RESTART_AFTER}
                             THEN 1 ELSE 0 END) > 0
                     AND SUM(CASE WHEN ep >= {_RESTART_AFTER}
                             THEN 1 ELSE 0 END) > 0)),
              (SELECT COUNT(*) FROM (
                  SELECT w, event_type FROM ev
                  GROUP BY w, event_type
                  HAVING MAX(ep) < {_RESTART_AFTER}))
            """
        ).fetchone()
        assert straddle > 0, (
            f"{sf_dir}: no daily window straddles the restart "
            f"boundary; state recovery untested"
        )
        assert finalized > 0, (
            f"{sf_dir}: run 1 would flush nothing; re-emission after "
            f"restart undetectable"
        )
    con.close()


def test_stream_static_join_matches_exist_at_every_sf():
    """Non-vacuity guard for q_stream_static_join: at EVERY shipped SF
    clicks must match customers in EVERY epoch-batch (so each
    micro-batch exercises the broadcast join, not just the first), and
    the enriched names must be non-degenerate (more than one distinct
    c_name among matches — the oracle's value hash then certifies the
    JOIN picked the right dimension row per event, which is the
    behavior under test; every user_id maps to a customer on this
    corpus, so filtering is not the claim)."""

    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        batches_with_matches, names = con.sql(
            f"""
            WITH span AS (
                SELECT MIN(ts) AS lo, MAX(ts) AS hi
                FROM read_parquet('{d}/events.parquet')
            ),
            m AS (
                SELECT LEAST(CAST(3 AS BIGINT), CAST(FLOOR(
                           4.0 * EXTRACT(EPOCH FROM e.ts - span.lo)
                               / NULLIF(EXTRACT(
                                     EPOCH FROM span.hi - span.lo), 0)
                       ) AS BIGINT)) AS ep,
                       c.c_name
                FROM read_parquet('{d}/events.parquet') e
                JOIN read_parquet('{d}/customer.parquet') c
                  ON e.user_id = c.c_custkey, span
                WHERE e.event_type = 'click'
            )
            SELECT COUNT(DISTINCT ep), COUNT(DISTINCT c_name) FROM m
            """
        ).fetchone()
        assert batches_with_matches == 4, (
            f"{d}: only {batches_with_matches}/4 epoch-batches have "
            f"matches; some micro-batches would not exercise the join"
        )
        assert names > 1, f"{d}: degenerate dimension; value hash vacuous"
    con.close()


def test_rocksdb_state_store_matches_default_backend(spark, tmp_path):
    """The q_stream_rocksdb_state contract in miniature: the same
    watermarked windowed aggregation over the same chunks must produce
    identical finalized windows on the RocksDB provider as on the
    default HDFS-backed (in-heap) provider, and the RocksDB run must
    surface rocksdb* custom metrics in its progress events (proof the
    conf took effect — without it the test would compare the default
    backend to itself)."""
    rows = (
        [("a", f"2026-08-13 06:10:{i:02d}", "ssh", "r1") for i in range(4)]
        + [("b", "2026-08-13 07:05:00", "ssh", "r1")]
        + [("z", "2026-08-13 12:00:00", "ssh", "r1")]  # watermark closer
    )
    results = {}
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    for backend, provider in (("default", None), ("rocksdb", rocksdb)):
        src = tmp_path / backend / "src"
        src.mkdir(parents=True)
        _write_events_chunk(src / "c1.parquet", rows)
        prev = spark.conf.get(provider_key, None)
        if provider:
            spark.conf.set(provider_key, provider)
        try:
            schema = (
                "address string, created_at timestamp, "
                "sensor string, rule string"
            )
            stream = spark.readStream.schema(schema).parquet(str(src))
            q = (
                windowed_counts(
                    stream, window="1 hour", watermark="1 hour"
                )
                .writeStream.format("parquet")
                .option("path", str(tmp_path / backend / "out"))
                .option(
                    "checkpointLocation", str(tmp_path / backend / "ckpt")
                )
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180)
            if provider:
                assert any(
                    "rocksdb" in k.lower()
                    for p in q.recentProgress
                    for op in p.get("stateOperators", [])
                    for k in op.get("customMetrics", {})
                ), "RocksDB provider conf did not take effect"
        finally:
            if provider:
                if prev is None:
                    spark.conf.unset(provider_key)
                else:
                    spark.conf.set(provider_key, prev)
        results[backend] = sorted(
            map(
                tuple,
                spark.read.parquet(str(tmp_path / backend / "out"))
                .select("window_start", "cnt")
                .collect(),
            )
        )
    assert results["default"] == results["rocksdb"]
    assert results["default"]  # non-empty: at least one finalized window


def test_windowed_counts_streaming_with_watermark(spark, stream_env):
    """Append-mode watermark semantics: a window is emitted only once the
    watermark (max event time - delay) passes its end; open windows stay
    in state. The watermark advances between micro-batches, so the closed
    windows surface on the second run (Spark's no-data batch finalizes
    them after the closer event advances the watermark)."""
    window_fn = lambda s: windowed_counts(s, window="1 hour", watermark="2 hours")  # noqa: E731
    rows = (
        [("a", f"2026-08-13 06:10:{i:02d}", "ssh", "r1") for i in range(4)]
        + [("b", "2026-08-13 07:05:00", "ssh", "r1")]
        + [("c", "2026-08-13 07:20:00", "http", "r2")]
    )
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)
    _run_stream(spark, stream_env, window_fn)

    # closer: advances the watermark to 08:00, closing the 06:xx/07:xx windows
    _write_events_chunk(
        stream_env["src"] / "c2.parquet",
        [("z", "2026-08-13 10:00:00", "ssh", "r1")],
    )
    _run_stream(spark, stream_env, window_fn)

    out = spark.read.parquet(stream_env["out"])
    got = {
        (str(r["window_start"]), r["sensor"], r["rule"]): r["cnt"]
        for r in out.collect()
    }
    assert got[("2026-08-13 06:00:00", "ssh", "r1")] == 4
    assert got[("2026-08-13 07:00:00", "ssh", "r1")] == 1
    assert got[("2026-08-13 07:00:00", "http", "r2")] == 1
    # the closer's own window (10:00) is still open -> not emitted
    assert ("2026-08-13 10:00:00", "ssh", "r1") not in got


def test_sessionized_counts_streaming(spark, stream_env):
    session_fn = lambda s: sessionized_counts(  # noqa: E731
        s, key_col="address", gap="30 minutes", watermark="4 hours"
    )
    rows = (
        [("x", "2026-08-13 06:00:00", "ssh", "r")]
        + [("x", "2026-08-13 06:10:00", "ssh", "r")]  # same session (gap 30m)
        + [("x", "2026-08-13 07:30:00", "ssh", "r")]  # new session
    )
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)
    _run_stream(spark, stream_env, session_fn)
    # closer event advances the watermark past both session ends
    _write_events_chunk(
        stream_env["src"] / "c2.parquet",
        [("z", "2026-08-13 12:30:00", "ssh", "r")],
    )
    _run_stream(spark, stream_env, session_fn)

    out = (
        spark.read.parquet(stream_env["out"])
        .where(F.col("address") == "x")
        .orderBy("session_start")
        .collect()
    )
    assert [(str(r["session_start"]), r["n_events"]) for r in out] == [
        ("2026-08-13 06:00:00", 2),
        ("2026-08-13 07:30:00", 1),
    ]


def test_deduped_stream_drops_replays_across_batches(spark, stream_env):
    from takuan_zoo.streaming.windows import deduped_stream

    rows = [
        ("1.1.1.1", "2026-08-13 06:00:00", "ssh", "r"),
        ("1.1.1.1", "2026-08-13 06:00:00", "ssh", "r"),  # in-batch dup
        ("2.2.2.2", "2026-08-13 06:00:05", "ssh", "r"),
    ]
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)
    dedup = lambda s: deduped_stream(  # noqa: E731
        s, key_cols=("address", "created_at"), watermark="10 minutes"
    )
    _run_stream(spark, stream_env, dedup)
    # replay of an already-seen row in a later micro-batch, plus one new
    rows2 = [
        ("1.1.1.1", "2026-08-13 06:00:00", "ssh", "r"),  # replay
        ("3.3.3.3", "2026-08-13 06:00:07", "ssh", "r"),
    ]
    _write_events_chunk(stream_env["src"] / "c2.parquet", rows2)
    _run_stream(spark, stream_env, dedup)
    out = spark.read.parquet(stream_env["out"])
    assert sorted(r["address"] for r in out.collect()) == [
        "1.1.1.1",
        "2.2.2.2",
        "3.3.3.3",
    ]


def test_stream_stream_interval_join(spark, stream_env):
    """Errors pick up same-address auth-failures from the preceding
    5 minutes; a failure outside the interval must not match."""
    from takuan_zoo.streaming.windows import interval_join

    rows = [
        ("9.9.9.9", "2026-08-13 06:00:00", "ssh", "auth-failure"),
        ("9.9.9.9", "2026-08-13 06:03:00", "ssh", "error"),
        ("9.9.9.9", "2026-08-13 06:20:00", "ssh", "error"),  # failure too old
        ("8.8.8.8", "2026-08-13 06:02:00", "http", "error"),  # no failure
    ]
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)

    def join_fn(stream):
        errors = stream.where(F.col("rule") == "error")
        fails = stream.where(F.col("rule") == "auth-failure").select(
            F.col("address"), F.col("created_at").alias("fail_at")
        )
        out = interval_join(
            errors,
            fails.withColumnRenamed("fail_at", "created_at"),
            on="address",
            max_delay="5 minutes",
        )
        return out.select(
            F.col("l.address").alias("address"),
            F.col("l.created_at").alias("err_at"),
            F.col("r.created_at").alias("fail_at"),
        )

    _run_stream(spark, stream_env, join_fn)
    got = [
        (r["address"], str(r["err_at"]), str(r["fail_at"]))
        for r in spark.read.parquet(stream_env["out"]).collect()
    ]
    assert got == [
        ("9.9.9.9", "2026-08-13 06:03:00", "2026-08-13 06:00:00")
    ]


def test_stream_stream_interval_join_full_outer(spark, stream_env):
    """fullOuter through the same interval_join plan: a matched pair
    emits once, an unmatched LEFT row emits (l, NULL), and an unmatched
    RIGHT row emits (NULL, r) — each NULL side only after the watermark
    passes its interval and eviction runs (driven here by far-future
    sentinel rows on both sides across later micro-batches). Pins the
    join-type flag end-to-end beyond the registered leftOuter row, so
    the full-outer semantics need no bench-time query of their own."""
    from takuan_zoo.streaming.windows import interval_join

    rows = [
        ("9.9.9.9", "2026-08-13 06:00:00", "ssh", "auth-failure"),
        ("9.9.9.9", "2026-08-13 06:03:00", "ssh", "error"),
        ("8.8.8.8", "2026-08-13 06:02:00", "http", "error"),  # no failure
        ("7.7.7.7", "2026-08-13 06:01:00", "ssh", "auth-failure"),  # no err
    ]
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)

    def join_fn(stream):
        errors = stream.where(F.col("rule").isin("error", "s-error"))
        fails = stream.where(
            F.col("rule").isin("auth-failure", "s-fail")
        ).select(F.col("address"), F.col("created_at"))
        out = interval_join(
            errors,
            fails,
            on="address",
            max_delay="5 minutes",
            how="fullOuter",
        )
        return out.select(
            F.col("l.address").alias("l_addr"),
            F.col("r.address").alias("r_addr"),
            F.col("l.created_at").alias("err_at"),
            F.col("r.created_at").alias("fail_at"),
        )

    _run_stream(spark, stream_env, join_fn)
    # sentinel pairs advance BOTH sides' watermarks across two later
    # micro-batches (watermark updates at batch boundaries; eviction
    # emits in the batch after the advance)
    for day, chunk in (("14", "c2.parquet"), ("15", "c3.parquet")):
        _write_events_chunk(
            stream_env["src"] / chunk,
            [
                ("0.0.0.0", f"2026-08-{day} 06:00:00", "ssh", "s-error"),
                ("0.0.0.0", f"2026-08-{day} 06:00:00", "ssh", "s-fail"),
            ],
        )
        _run_stream(spark, stream_env, join_fn)

    got = sorted(
        (
            r["l_addr"] or "",
            r["r_addr"] or "",
            str(r["err_at"]),
            str(r["fail_at"]),
        )
        for r in spark.read.parquet(stream_env["out"]).collect()
        if "0.0.0.0" not in (r["l_addr"], r["r_addr"])
    )
    assert got == [
        ("", "7.7.7.7", "None", "2026-08-13 06:01:00"),
        ("8.8.8.8", "", "2026-08-13 06:02:00", "None"),
        ("9.9.9.9", "9.9.9.9", "2026-08-13 06:03:00",
         "2026-08-13 06:00:00"),
    ], got


def test_streaming_detector_matches_batch_analog(spark, stream_env):
    """The applyInPandasWithState detector with cooldown disabled must
    emit exactly the alert set of its SQL batch analog
    (brute_force_alerts_batch) — the equivalence the q_stateful_alerts
    oracle row pins. Event times are second-distinct per address, the
    regime where the two formulations agree exactly."""
    from takuan_zoo.streaming.stateful import brute_force_alerts_batch

    rows = []
    # bursty attacker: 8 events 7s apart (alerts from the 3rd on),
    # slow scanner: 4 events 400s apart (never 3 inside 60s),
    # pair attacker: exactly 2 in-window events (below threshold)
    for i in range(8):
        rows.append(("9.9.9.9", f"2026-08-13 06:00:{i * 7:02d}", "ssh", "r"))
    for i in range(4):
        rows.append(("8.8.8.8", f"2026-08-13 06:{(i * 400) // 60:02d}:{(i * 400) % 60:02d}", "ssh", "r"))
    rows.append(("7.7.7.7", "2026-08-13 06:00:10", "ssh", "r"))
    rows.append(("7.7.7.7", "2026-08-13 06:00:50", "ssh", "r"))
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)
    _run_stream(
        spark,
        stream_env,
        lambda s: brute_force_alerts(
            s, threshold=3, window_secs=60, cooldown_secs=0, idle_timeout_secs=None
        ),
    )
    got_stream = sorted(
        (
            a["address"],
            a["n_events"],
            int(a["window_start"].timestamp()),
            int(a["window_end"].timestamp()),
        )
        for a in spark.read.parquet(stream_env["out"]).collect()
    )
    batch_df = spark.read.schema(
        "address string, created_at timestamp, sensor string, rule string"
    ).parquet(str(stream_env["src"]))
    got_batch = sorted(
        (r["address"], r["n_events"], r["window_start_sec"], r["window_end_sec"])
        for r in brute_force_alerts_batch(
            batch_df, threshold=3, window_secs=60
        ).collect()
    )
    assert got_stream == got_batch
    assert len(got_stream) == 6  # 8-event burst alerts from its 3rd event


def test_session_window_epoch_split_crosses_boundaries(sf_dir):
    """Non-vacuity guard for q_stream_session_window: the time-quartile
    epoch split must put at least one 3-hour-gap user session on BOTH
    sides of a batch boundary, otherwise the registered query's oracle
    green would not be exercising cross-batch session merge in state."""
    import duckdb

    con = duckdb.connect()
    n = con.sql(
        f"""
        WITH ev AS (
            SELECT user_id, ts FROM read_parquet('{sf_dir}/events.parquet')
        ),
        span AS (SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM ev),
        seq AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 3 HOUR
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session,
                   -- epoch = which time quartile the event falls in
                   LEAST(CAST(3 AS BIGINT), CAST(FLOOR(
                       4.0 * EXTRACT(EPOCH FROM ts - span.lo)
                           / NULLIF(EXTRACT(EPOCH FROM span.hi - span.lo), 0)
                   ) AS BIGINT)) AS epoch
            FROM ev, span
        ),
        sess AS (
            SELECT user_id,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS session_id,
                   epoch
            FROM seq
        )
        SELECT COUNT(*) FROM (
            SELECT user_id, session_id
            FROM sess GROUP BY user_id, session_id
            HAVING COUNT(DISTINCT epoch) > 1
        )
        """
    ).fetchone()[0]
    con.close()
    assert n > 0, "no session spans an epoch boundary; merge path untested"


def test_late_drop_replay_margin():
    """Non-vacuity guard for q_stream_late_drop: at EVERY shipped SF the
    replayed first-quartile windows must end far behind the watermark
    the 4 in-order epochs leave (corpus max - 1 hour), and the replay
    must be non-empty — otherwise the drop-accounting assertion inside
    the query would pass vacuously (0 == 0) and its oracle green would
    not be exercising the watermark-refusal path at all."""

    import duckdb

    sf_dirs = _sf_dirs()
    con = duckdb.connect()
    for d in sf_dirs:
        n_late, margin_hours = con.sql(
            f"""
            WITH span AS (
                SELECT MIN(ts) AS lo, MAX(ts) AS hi
                FROM read_parquet('{d}/events.parquet')
            )
            SELECT
                (SELECT COUNT(*) FROM read_parquet('{d}/events.parquet'), span
                 WHERE ts < lo + (hi - lo) / 4),
                EXTRACT(EPOCH FROM (hi - INTERVAL 1 HOUR)
                        - (lo + (hi - lo) / 4 + INTERVAL 1 HOUR)) / 3600.0
            FROM span
            """
        ).fetchone()
        assert n_late > 0, f"{d}: empty first quartile; replay vacuous"
        # window_end of the latest replayed row vs the watermark: demand
        # a >= 24 h buffer so hour-truncation and delay semantics can
        # never put a replayed window inside the live horizon.
        assert margin_hours >= 24, f"{d}: replay margin only {margin_hours}h"
    con.close()


def test_interval_join_pairs_cross_epoch_batches():
    """Non-vacuity guard for q_stream_interval_join: at EVERY shipped
    SF, some (click, view) pair within the 24 h join interval must
    straddle a time-quartile epoch boundary — the view then sits in
    join state across a micro-batch boundary until its click arrives,
    which is the cross-batch buffering behavior under test (same-batch
    matches alone would certify nothing a batch join doesn't)."""

    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        pairs, cross = con.sql(
            f"""
            WITH span AS (SELECT MIN(ts) lo, MAX(ts) hi
                          FROM read_parquet('{d}/events.parquet')),
            ev AS (
              SELECT *, LEAST(3, CAST(FLOOR(
                  4.0 * EXTRACT(EPOCH FROM ts - span.lo)
                  / NULLIF(EXTRACT(EPOCH FROM span.hi - span.lo), 0)
              ) AS BIGINT)) AS ep
              FROM read_parquet('{d}/events.parquet'), span
            )
            SELECT COUNT(*), COALESCE(SUM(CASE WHEN l.ep <> r.ep
                                               THEN 1 ELSE 0 END), 0)
            FROM ev l JOIN ev r
              ON l.user_id = r.user_id
             AND l.event_type = 'click' AND r.event_type = 'view'
             AND r.ts BETWEEN l.ts - INTERVAL 24 HOUR AND l.ts
            """
        ).fetchone()
        assert pairs > 0, f"{d}: no interval-join pairs at all"
        assert cross > 0, (
            f"{d}: no pair crosses an epoch boundary; cross-batch join "
            f"state untested"
        )
    con.close()


def test_update_mode_users_span_multiple_epochs():
    """Non-vacuity guard for q_stream_update_mode: at EVERY shipped SF
    some user must have events in >= 2 time-quartile epochs — only then
    does update mode RE-emit that user's revised running count in a
    later micro-batch, which is the emit-revise-merge behavior under
    test (single-epoch users alone would reduce the row to append
    mode with extra steps)."""

    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        multi = con.sql(
            f"""
            WITH span AS (SELECT MIN(ts) lo, MAX(ts) hi
                          FROM read_parquet('{d}/events.parquet')),
            ev AS (
              SELECT user_id, LEAST(3, CAST(FLOOR(
                  4.0 * EXTRACT(EPOCH FROM ts - span.lo)
                  / NULLIF(EXTRACT(EPOCH FROM span.hi - span.lo), 0)
              ) AS BIGINT)) AS ep
              FROM read_parquet('{d}/events.parquet'), span
            )
            SELECT COUNT(*) FROM (
                SELECT user_id FROM ev GROUP BY user_id
                HAVING COUNT(DISTINCT ep) >= 2
            )
            """
        ).fetchone()[0]
        assert multi > 0, (
            f"{d}: no user spans two epochs; update-mode re-emission "
            f"would be vacuous"
        )
    con.close()


def test_update_windowed_windows_span_multiple_epochs():
    """Non-vacuity guard for q_stream_update_windowed: at EVERY shipped
    SF some (day, event_type) window must have events in >= 2
    time-quartile epochs — only then is that window's count re-emitted
    with a revision in a later micro-batch and merged over its earlier
    row on the COMPOSITE key, which is the behavior under test."""

    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        multi = con.sql(
            f"""
            WITH span AS (SELECT MIN(ts) lo, MAX(ts) hi
                          FROM read_parquet('{d}/events.parquet')),
            ev AS (
              SELECT date_trunc('day', ts) AS day, event_type,
                     LEAST(3, CAST(FLOOR(
                  4.0 * EXTRACT(EPOCH FROM ts - span.lo)
                  / NULLIF(EXTRACT(EPOCH FROM span.hi - span.lo), 0)
              ) AS BIGINT)) AS ep
              FROM read_parquet('{d}/events.parquet'), span
            )
            SELECT COUNT(*) FROM (
                SELECT day, event_type FROM ev GROUP BY 1, 2
                HAVING COUNT(DISTINCT ep) >= 2
            )
            """
        ).fetchone()[0]
        assert multi > 0, (
            f"{d}: no daily window spans two epochs; windowed "
            f"update-mode re-emission would be vacuous"
        )
    con.close()


def test_interval_join_outer_unmatched_exist_at_every_sf():
    """Non-vacuity guard for q_stream_interval_join_outer: at EVERY
    shipped SF some click must have NO view within its 24 h interval —
    those are the rows whose NULL-padded emission only watermark-driven
    state eviction can produce (the behavior the outer row tests; an
    all-matched corpus would make it an expensive re-run of the inner
    row). The cross-batch matched-pair condition is shared with — and
    already pinned by — test_interval_join_pairs_cross_epoch_batches,
    since both rows use the same sources, interval, and epoch split."""

    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        clicks, unmatched = con.sql(
            f"""
            WITH ev AS (SELECT * FROM read_parquet('{d}/events.parquet'))
            SELECT COUNT(*),
                   COALESCE(SUM(CASE WHEN r.event_id IS NULL
                                     THEN 1 ELSE 0 END), 0)
            FROM (SELECT * FROM ev WHERE event_type = 'click') l
            LEFT JOIN (SELECT * FROM ev WHERE event_type = 'view') r
              ON l.user_id = r.user_id
             AND r.ts BETWEEN l.ts - INTERVAL 24 HOUR AND l.ts
            """
        ).fetchone()
        assert clicks > 0, f"{d}: no clicks at all"
        assert unmatched > 0, (
            f"{d}: every click matched some view; the outer-eviction "
            f"NULL-emission path would be vacuous"
        )
    con.close()


def test_interval_join_full_unmatched_views_exist_at_every_sf():
    """Non-vacuity guard for the RIGHT half of
    q_stream_interval_join_full AND for q_stream_interval_join_right
    (same sources, interval, and epoch split): at EVERY shipped SF
    some view must have no click within [view.ts, view.ts + 24 h] —
    those are the (NULL, r) rows only the right-buffer eviction path
    can produce. The left half (unmatched clicks) and the cross-batch
    matched pairs are pinned by the two guards above."""

    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        views, unmatched = con.sql(
            f"""
            WITH ev AS (SELECT * FROM read_parquet('{d}/events.parquet'))
            SELECT COUNT(*),
                   COALESCE(SUM(CASE WHEN l.event_id IS NULL
                                     THEN 1 ELSE 0 END), 0)
            FROM (SELECT * FROM ev WHERE event_type = 'view') r
            LEFT JOIN (SELECT * FROM ev WHERE event_type = 'click') l
              ON l.user_id = r.user_id
             AND r.ts BETWEEN l.ts - INTERVAL 24 HOUR AND l.ts
            """
        ).fetchone()
        assert views > 0, f"{d}: no views at all"
        assert unmatched > 0, (
            f"{d}: every view matched some click; the right-buffer "
            f"eviction path would be vacuous"
        )
    con.close()


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    times=st.lists(
        st.integers(min_value=0, max_value=10_000_000),
        min_size=1,
        max_size=40,
    ),
    cuts=st.lists(
        st.integers(min_value=0, max_value=39), max_size=4
    ),
)
def test_gap_fold_is_batch_split_invariant(times, cuts):
    """Property: folding a key's event times through
    make_gap_update_fn over ANY in-order batch split yields exactly the
    direct whole-sequence computation (n, first, last, max lag gap) —
    the split-invariance contract q_stream_custom_state's epoch
    protocol relies on. Batches arrive in event-time order (the
    protocol's guarantee); WITHIN a batch order is arbitrary, so each
    batch is shuffled deterministically before feeding."""
    import pandas as pd

    from takuan_zoo.streaming.stateful import make_gap_update_fn

    fn = make_gap_update_fn("user_id", 10**15)
    ordered = sorted(times)
    # cut points define the batch split of the ORDERED sequence
    points = sorted({c for c in cuts if c < len(ordered)})
    batches, prev = [], 0
    for c in points:
        if c > prev:
            batches.append(ordered[prev:c])
            prev = c
    batches.append(ordered[prev:])

    st_fake = _FakeState()
    for i, batch in enumerate(batches):
        if not batch:
            continue
        # arbitrary within-batch order: reverse every other batch
        feed = list(reversed(batch)) if i % 2 else list(batch)
        out = list(
            fn((7,), iter([pd.DataFrame({"ts_us": feed})]), st_fake)
        )
        assert out == []  # emission only on timeout

    # direct whole-sequence answer
    gaps = [b - a for a, b in zip(ordered, ordered[1:])]
    expected = (
        ordered[0],
        ordered[-1],
        max(gaps) if gaps else None,
        len(ordered),
    )
    assert st_fake.get == expected

    st_done = _FakeState(value=st_fake.get, timed_out=True)
    (row,) = list(fn((7,), iter([]), st_done))
    assert row.iloc[0]["n_events"] == len(ordered)


@settings(max_examples=60, deadline=None)
@given(
    times=st.lists(
        st.integers(min_value=0, max_value=10_000_000),
        min_size=1,
        max_size=40,
    ),
    batch_of=st.lists(
        st.integers(min_value=0, max_value=4), min_size=40, max_size=40
    ),
    delay_ms=st.integers(min_value=0, max_value=10_000),
)
def test_buffered_gap_fold_is_arrival_order_invariant(
    times, batch_of, delay_ms
):
    """Property for the UNORDERED variant: assign each event time to an
    arbitrary batch (so batches are neither time-contiguous nor in
    event-time order), deliver under the engine's admission model —
    before each batch the watermark is (max prior event time - delay),
    and rows below it are dropped before reaching the operator — and
    the buffered fold must equal the direct lag() computation over
    exactly the ADMITTED rows. This is the whole contract of
    make_gap_buffer_update_fn: correctness from the watermark alone,
    no arrival-order assumption at all."""
    import pandas as pd

    from takuan_zoo.streaming.stateful import make_gap_buffer_update_fn

    fn = make_gap_buffer_update_fn("user_id", 10**15)
    batches: dict[int, list[int]] = {}
    for t, b in zip(times, batch_of):
        batches.setdefault(b, []).append(t)

    st_fake = _FakeState()
    admitted: list[int] = []
    max_seen_us: int | None = None
    for b in sorted(batches):
        # engine model: watermark for this batch comes from PRIOR data
        wm_ms = (
            0
            if max_seen_us is None
            else max(0, max_seen_us // 1000 - delay_ms)
        )
        st_fake.watermark_ms = wm_ms
        feed = [t for t in batches[b] if t >= wm_ms * 1000]
        admitted.extend(feed)
        max_seen_us = max([max_seen_us or 0, *batches[b]])
        if not feed:
            continue
        out = list(
            fn((7,), iter([pd.DataFrame({"ts_us": feed})]), st_fake)
        )
        assert out == []  # emission only on timeout

    if not admitted:
        assert not st_fake.exists
        return
    st_fake.hasTimedOut = True
    (row,) = list(fn((7,), iter([]), st_fake))
    ordered = sorted(admitted)
    gaps = [b - a for a, b in zip(ordered, ordered[1:])]
    got = row.iloc[0]
    assert got["n_events"] == len(ordered)
    assert got["first_us"] == ordered[0]
    assert got["last_us"] == ordered[-1]
    expected_gap = max(gaps) if gaps else None
    assert (
        expected_gap is None
        and pd.isna(got["max_gap_us"])
        or got["max_gap_us"] == expected_gap
    )


def test_unordered_state_flushes_without_no_data_microbatches(spark):
    """The flush must fire in sentinel-2's FILE batch (the sentinels
    ride the 0.6x-span watermark delay), not in the engine's trailing
    no-data micro-batch: with noDataMicroBatches disabled the row must
    still emit every user. A sentinel scheme that left sentinel-2's
    watermark below flush_at would return an empty sink here."""
    from takuan_zoo.queries import REGISTRY, _load

    _load()
    sf_dir = "/root/testdata/sf0.001"
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = REGISTRY["q_stream_unordered_state"].builder(spark, sf_dir)
        users = out.count()
    finally:
        spark.conf.set(key, prev)
    import duckdb

    con = duckdb.connect()
    expected = con.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    con.close()
    assert users == expected, (
        f"{users} users flushed, {expected} expected; the timeout "
        f"sweep did not run inside the file batches"
    )


def test_unordered_state_epoch_inversion_exists_at_every_sf():
    """Non-vacuity guard for q_stream_unordered_state: at EVERY shipped
    SF some user must have events in BOTH epoch 0 and epoch 1 — under
    the row's [1, 0, 3, 2] arrival order that user's times reach state
    out of event-time order, and the ordered fold would record epoch
    1's min as first_us (epoch 0's rows arrive after) and hash-red
    against the lag() oracle. Without such a user the inverted delivery
    would test nothing."""
    import duckdb

    con = duckdb.connect()
    for sf_dir in _sf_dirs():
        n = con.sql(
            f"""
            WITH span AS (
                SELECT MIN(ts) AS lo, MAX(ts) AS hi
                FROM read_parquet('{sf_dir}/events.parquet')
            ),
            ev AS (
                SELECT user_id, LEAST(CAST(3 AS BIGINT), CAST(FLOOR(
                    4.0 * EXTRACT(EPOCH FROM ts - span.lo)
                        / NULLIF(EXTRACT(EPOCH FROM span.hi - span.lo), 0)
                ) AS BIGINT)) AS ep
                FROM read_parquet('{sf_dir}/events.parquet'), span
            )
            SELECT COUNT(*) FROM (
                SELECT user_id FROM ev WHERE ep IN (0, 1)
                GROUP BY user_id HAVING COUNT(DISTINCT ep) = 2
            )
            """
        ).fetchone()[0]
        assert n > 0, (
            f"{sf_dir}: no user spans epochs 0 and 1; the inverted "
            f"arrival under test would be vacuous"
        )
    con.close()


def test_streaming_sort_limit_requires_complete_mode(spark, tmp_path):
    """The semantics q_stream_complete_mode exists to certify: sorting
    an aggregated stream is legal ONLY in complete output mode — the
    engine rejects the same sort+limit plan in update mode at analysis
    time, because a revised-keys-only emission of a sorted limit is
    not well-defined (a key leaving the top-5 would never be
    retracted)."""
    from pyspark.errors import AnalysisException

    src = tmp_path / "src"
    src.mkdir()
    _write_events_chunk(
        src / "e0.parquet",
        [("10.0.0.1", "2026-08-13 06:00:00", "ssh", "auth-failure")],
    )
    schema = "address string, created_at timestamp, sensor string, rule string"
    stream = spark.readStream.schema(schema).parquet(str(src))
    top = (
        stream.groupBy("address")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "address")
        .limit(5)
    )
    with pytest.raises(AnalysisException):
        (
            top.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_bad"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    # the identical plan in complete mode is accepted and drains
    q = (
        top.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt_ok"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "complete-mode drain timed out"


def test_complete_mode_top5_revises_across_epochs():
    """Non-vacuity guard for q_stream_complete_mode: at EVERY shipped
    SF the running top-5 after the FIRST time-quartile epoch must
    differ from the final top-5 — only then does a later snapshot
    revise an earlier one, which is the full-result re-emission the
    row asserts (a top-5 frozen after batch 0 would make the
    adjacent-snapshot-differs check fail, and the contract vacuous)."""

    import duckdb

    con = duckdb.connect()
    top5 = (
        "SELECT user_id, COUNT(*) AS cnt FROM ev {where} "
        "GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 5"
    )
    for d in _sf_dirs():
        con.execute(
            f"""
            CREATE OR REPLACE VIEW ev AS
            WITH span AS (SELECT MIN(ts) lo, MAX(ts) hi
                          FROM read_parquet('{d}/events.parquet'))
            SELECT user_id, LEAST(3, CAST(FLOOR(
                4.0 * EXTRACT(EPOCH FROM ts - span.lo)
                / NULLIF(EXTRACT(EPOCH FROM span.hi - span.lo), 0)
            ) AS BIGINT)) AS ep
            FROM read_parquet('{d}/events.parquet'), span
            """
        )
        first = con.execute(top5.format(where="WHERE ep = 0")).fetchall()
        final = con.execute(top5.format(where="")).fetchall()
        assert first != final, (
            f"{d}: top-5 identical after epoch 0 and after all epochs; "
            f"complete-mode re-emission would be vacuous"
        )
    con.close()


def test_stream_stream_interval_join_right_outer(spark, stream_env):
    """rightOuter through the same interval_join plan — the last of
    the four join types (inner and leftOuter are registered rows,
    fullOuter is pinned above): a matched pair emits once, an
    unmatched RIGHT row (a failure no error followed) emits (NULL, r)
    after the watermark passes its interval, and an unmatched LEFT
    row emits NOTHING — the asymmetry that separates rightOuter from
    fullOuter and is exactly what a "failures that never escalated"
    audit depends on."""
    from takuan_zoo.streaming.windows import interval_join

    rows = [
        ("9.9.9.9", "2026-08-13 06:00:00", "ssh", "auth-failure"),
        ("9.9.9.9", "2026-08-13 06:03:00", "ssh", "error"),
        ("8.8.8.8", "2026-08-13 06:02:00", "http", "error"),  # no failure
        ("7.7.7.7", "2026-08-13 06:01:00", "ssh", "auth-failure"),  # no err
    ]
    _write_events_chunk(stream_env["src"] / "c1.parquet", rows)

    def join_fn(stream):
        errors = stream.where(F.col("rule").isin("error", "s-error"))
        fails = stream.where(
            F.col("rule").isin("auth-failure", "s-fail")
        ).select(F.col("address"), F.col("created_at"))
        out = interval_join(
            errors,
            fails,
            on="address",
            max_delay="5 minutes",
            how="rightOuter",
        )
        return out.select(
            F.col("l.address").alias("l_addr"),
            F.col("r.address").alias("r_addr"),
            F.col("l.created_at").alias("err_at"),
            F.col("r.created_at").alias("fail_at"),
        )

    _run_stream(spark, stream_env, join_fn)
    for day, chunk in (("14", "c2.parquet"), ("15", "c3.parquet")):
        _write_events_chunk(
            stream_env["src"] / chunk,
            [
                ("0.0.0.0", f"2026-08-{day} 06:00:00", "ssh", "s-error"),
                ("0.0.0.0", f"2026-08-{day} 06:00:00", "ssh", "s-fail"),
            ],
        )
        _run_stream(spark, stream_env, join_fn)

    got = sorted(
        (
            r["l_addr"] or "",
            r["r_addr"] or "",
            str(r["err_at"]),
            str(r["fail_at"]),
        )
        for r in spark.read.parquet(stream_env["out"]).collect()
        if "0.0.0.0" not in (r["l_addr"], r["r_addr"])
    )
    # 8.8.8.8 (unmatched LEFT error) must be absent; 7.7.7.7
    # (unmatched RIGHT failure) must be NULL-padded
    assert got == [
        ("", "7.7.7.7", "None", "2026-08-13 06:01:00"),
        ("9.9.9.9", "9.9.9.9", "2026-08-13 06:03:00",
         "2026-08-13 06:00:00"),
    ], got


def test_stream_stream_join_is_append_only(spark, stream_env):
    """Mode-legality half of the join matrix (the complete-mode row
    pins sort+limit's): a stream-stream join supports ONLY append
    output mode — update mode is rejected at analysis time, because a
    join emission is not a keyed revision the engine could merge."""
    from pyspark.errors import AnalysisException

    from takuan_zoo.streaming.windows import interval_join

    _write_events_chunk(
        stream_env["src"] / "c1.parquet",
        [("9.9.9.9", "2026-08-13 06:00:00", "ssh", "auth-failure")],
    )
    schema = "address string, created_at timestamp, sensor string, rule string"
    stream = spark.readStream.schema(schema).parquet(str(stream_env["src"]))
    joined = interval_join(
        stream.where(F.col("rule") == "error"),
        stream.where(F.col("rule") == "auth-failure").select(
            "address", "created_at"
        ),
        on="address",
        max_delay="5 minutes",
    )
    with pytest.raises(AnalysisException):
        (
            joined.writeStream.format("noop")
            .option("checkpointLocation", stream_env["ckpt"])
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )


def test_multi_sensor_both_sensors_nonempty_at_every_sf():
    """Non-vacuity pin for q_stream_multi_sensor: at EVERY shipped SF
    both sensors must have events to render (error/signup -> ssh,
    click/view/purchase -> http) — an empty side would make the
    same-epoch multiplexing guard and one live-tail path vacuous —
    and each side must render more than one distinct line (a side
    collapsing to one repeated line is the only corpus shape where a
    crc32 half could be empty; the in-row per-sensor late-row guard
    turns an empty half into a loud error rather than a silent skip,
    this pin just keeps the corpora away from that edge)."""
    import duckdb

    con = duckdb.connect()
    for d in _sf_dirs():
        for side, pred in (
            ("ssh", "IN ('error','signup')"),
            ("http", "NOT IN ('error','signup')"),
        ):
            n, distinct = con.sql(
                f"""
                SELECT COUNT(*), COUNT(DISTINCT (event_type, user_id,
                       date_trunc('second', ts)))
                FROM read_parquet('{d}/events.parquet')
                WHERE event_type {pred}
                """
            ).fetchone()
            assert n > 0, f"{d}: no {side}-sensor events"
            assert distinct >= 2, (
                f"{d}: {side} side collapses to one rendered line"
            )
    con.close()


def test_vectorized_folds_match_reference_loop_semantics():
    """The r13 vectorized hot paths of the stateful update fns
    (_epoch_secs, _fold_gap, _alerts_frame — guide §4.2: hand whole
    batches to numpy instead of looping per event) must be exactly
    the per-element folds they replaced, on randomized feeds covering
    multi-batch carry, ties, singletons and empty runs."""
    import numpy as np
    import pandas as pd

    from takuan_zoo.streaming.stateful import (
        _alerts_frame,
        _epoch_secs,
        _fold_gap,
    )

    rng = np.random.default_rng(20260818)

    # _fold_gap vs the reference per-event loop, carried across runs
    def ref_fold_gap(first_us, last_us, max_gap_us, n, sorted_times):
        for t in sorted_times:
            t = int(t)
            if last_us is not None:
                gap = t - last_us
                if max_gap_us is None or gap > max_gap_us:
                    max_gap_us = gap
            if first_us is None:
                first_us = t
            last_us = t
            n += 1
        return first_us, last_us, max_gap_us, n

    for _ in range(300):
        state_v = state_r = (None, None, None, 0)
        for _run in range(int(rng.integers(1, 4))):
            m = int(rng.integers(0, 8))
            ts = np.sort(rng.integers(0, 1000, m))  # small range -> ties
            state_v = _fold_gap(*state_v, ts)
            state_r = ref_fold_gap(*state_r, ts.tolist())
            assert state_v == state_r, (state_v, state_r)

    # _epoch_secs vs int(Timestamp.timestamp()), naive and tz-aware,
    # with sub-second fractions (both paths floor for post-epoch times)
    base = pd.Timestamp("2024-03-01 12:00:00")
    frac = pd.to_timedelta(rng.integers(0, 10**6, 64), unit="us")
    naive = pd.Series(base + pd.to_timedelta(rng.integers(0, 10**6, 64), unit="s") + frac)
    assert _epoch_secs(naive) == [
        int(t.timestamp()) for t in pd.to_datetime(naive)
    ]
    aware = naive.dt.tz_localize("UTC")
    assert _epoch_secs(aware) == [
        int(t.timestamp()) for t in pd.to_datetime(aware)
    ]

    # _alerts_frame vs the list-of-dicts construction it replaced
    alerts = [("10.0.0.1", 3, 100, 160), ("10.0.0.2", 5, 0, 59)]
    got = _alerts_frame(alerts)
    want = pd.DataFrame(
        [
            {
                "address": a,
                "n_events": n,
                "window_start": pd.Timestamp(ws, unit="s"),
                "window_end": pd.Timestamp(we, unit="s"),
            }
            for a, n, ws, we in alerts
        ]
    )
    assert got["address"].tolist() == want["address"].tolist()
    assert got["n_events"].tolist() == want["n_events"].tolist()
    assert (
        got["window_start"].astype("datetime64[ns]").tolist()
        == want["window_start"].tolist()
    )
    assert (
        got["window_end"].astype("datetime64[ns]").tolist()
        == want["window_end"].tolist()
    )
