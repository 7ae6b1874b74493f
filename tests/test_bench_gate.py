"""Unit tests for takuan_zoo.bench's spread gate and the scratch sweep —
the round-11 hardening against streaming fat-tails: round 10's host
bounced across passes and median-of-3 committed a 32.31 s median for
q_stream_checkpoint_restart off runs [70.8, 6.6, 32.3] on an unchanged
plan. The gate must (a) flag exactly that shape, (b) settle once extra
runs restore the median, and (c) NOT fire on an honest regression,
which has to stay visible in the record."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pytest

from takuan_zoo.bench import SPREAD_MAX, _median, _unsettled


def test_r10_fat_tail_is_flagged():
    # the exact committed r10 artifact shape: plan unchanged (r9 median
    # 5.99), two of three runs landed in bad windows
    assert _unsettled([70.78, 6.61, 32.31], prior_median=5.99)
    # ... and even with no prior record the internal spread alone flags it
    assert _unsettled([70.78, 6.61, 32.31], prior_median=None)


def test_extra_runs_settle_the_median():
    runs = [70.78, 6.61, 32.31]
    # two clean re-runs: the median converges to the true band and the
    # outliers lose the vote while staying in the raw record
    runs += [6.1, 6.0]
    assert not _unsettled(runs, prior_median=5.99)
    assert _median(runs) == 6.61


def test_honest_regression_is_not_rerun():
    # ALL runs elevated vs the committed record: min > SPREAD_MAX x
    # prior, so re-running cannot help — the regression must stand in
    # the committed artifact rather than burn the re-run budget
    assert not _unsettled([12.0, 12.1, 12.3], prior_median=6.0)


def test_prior_regression_arm_needs_a_fast_min():
    # median regressed vs the committed record but min is in band ->
    # noise, re-run
    assert _unsettled([9.0, 6.1, 9.2], prior_median=5.9)
    # identical medians with a slow min -> regression, stand
    assert not _unsettled([9.0, 8.9, 9.2], prior_median=5.9)


def test_tight_spread_is_settled():
    assert not _unsettled([6.0, 6.2, 6.1], prior_median=5.99)
    assert SPREAD_MAX == 1.5


def test_clean_scratch_removes_fixture_trees_keeps_probe_corpus():
    from takuan_zoo.scratch import (
        SCRATCH_PREFIXES,
        clean_scratch,
        scratch_path,
    )

    tmp = tempfile.gettempdir()
    made = []
    for p in SCRATCH_PREFIXES:
        d = scratch_path(f"{p}testonly123")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "x"), "w") as fh:
            fh.write("x")
        made.append(d)
    probe = os.path.join(tmp, "takuan_sfprobe")
    probe_preexisting = os.path.exists(probe)
    os.makedirs(probe, exist_ok=True)
    removed = clean_scratch()
    for d in made:
        assert not os.path.exists(d), f"{d} survived the sweep"
        assert d in removed
    assert os.path.exists(probe), "the probe corpus must be kept"
    if not probe_preexisting:
        os.rmdir(probe)


def test_clean_scratch_spares_other_sessions_live_trees():
    """The concurrency guard: a tree this process does NOT own (another
    session's fixtures, simulated by building the path directly) is
    spared while recently active, and swept once idle past min_age."""
    from takuan_zoo.scratch import SCRATCH_PREFIXES, clean_scratch

    tmp = tempfile.gettempdir()
    d = os.path.join(tmp, f"{SCRATCH_PREFIXES[0]}foreign456")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "x"), "w") as fh:
        fh.write("x")
    try:
        removed = clean_scratch()
        assert os.path.exists(d), "a live unowned tree must be spared"
        assert d not in removed
        # liveness must be judged by the DEEPEST recent write, not a
        # shallow peek: a streaming query can touch only deep ckpt
        # entries for long stretches. Age the root and depth-1
        # entries, keep one depth-2 file fresh -> still spared.
        old = time.time() - 7200
        deep = os.path.join(d, "ckpt", "offsets")
        os.makedirs(deep, exist_ok=True)
        with open(os.path.join(deep, "0"), "w") as fh:
            fh.write("o")
        os.utime(d, (old, old))
        os.utime(os.path.join(d, "x"), (old, old))
        os.utime(os.path.join(d, "ckpt"), (old, old))
        removed = clean_scratch()
        assert os.path.exists(d), (
            "a tree with only deep recent writes must be spared"
        )
        # age EVERYTHING past the threshold -> swept
        for root, dirs, files in os.walk(d):
            for name in dirs + files:
                os.utime(os.path.join(root, name), (old, old))
        os.utime(d, (old, old))
        removed = clean_scratch()
        assert not os.path.exists(d), "an idle unowned tree must be swept"
        assert d in removed
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_scratch_path_rejects_unregistered_prefix():
    from takuan_zoo.scratch import scratch_path

    with pytest.raises(ValueError, match="registered prefix"):
        scratch_path("takuan_unknown_family_x")
