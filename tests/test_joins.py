"""asof_join operator semantics (takuan_zoo/operators/joins.py)."""

from __future__ import annotations

from takuan_zoo.operators.joins import asof_join


def _run(spark, left_rows, right_rows, direction="backward"):
    left = spark.createDataFrame(left_rows, "id long, k long, t long")
    right = spark.createDataFrame(right_rows, "k long, t long, v double")
    out = asof_join(
        left,
        right,
        on="k",
        left_time="t",
        right_time="t",
        right_values={"t": "rt", "v": "rv"},
        direction=direction,
    )
    return {r["id"]: (r["rt"], r["rv"]) for r in out.collect()}


def test_asof_backward_picks_latest_at_or_before(spark):
    got = _run(
        spark,
        [(1, 7, 10), (2, 7, 25), (3, 7, 5)],
        [(7, 8, 1.0), (7, 20, 2.0), (7, 30, 3.0)],
    )
    assert got == {1: (8, 1.0), 2: (20, 2.0), 3: (None, None)}


def test_asof_equal_timestamp_matches(spark):
    got = _run(spark, [(1, 7, 20)], [(7, 20, 2.0)])
    assert got == {1: (20, 2.0)}


def test_asof_forward_picks_earliest_at_or_after(spark):
    got = _run(
        spark,
        [(1, 7, 10), (2, 7, 25), (3, 7, 99)],
        [(7, 8, 1.0), (7, 20, 2.0), (7, 30, 3.0)],
        direction="forward",
    )
    assert got == {1: (20, 2.0), 2: (30, 3.0), 3: (None, None)}


def test_asof_keys_do_not_leak_across_groups(spark):
    got = _run(
        spark,
        [(1, 7, 10), (2, 8, 10)],
        [(7, 5, 1.0), (8, 9, 2.0)],
    )
    assert got == {1: (5, 1.0), 2: (9, 2.0)}


def test_asof_single_shuffle_plan(spark):
    """The whole as-of is one exchange on the key (union-tag pattern) —
    no join node, no second shuffle."""
    left = spark.createDataFrame([(1, 7, 10)], "id long, k long, t long")
    right = spark.createDataFrame([(7, 8, 1.0)], "k long, t long, v double")
    plan = asof_join(
        left,
        right,
        on="k",
        left_time="t",
        right_time="t",
        right_values={"v": "rv"},
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_nearest_tie_goes_backward_and_tolerance_drops(spark):
    import datetime as dt

    from takuan_zoo.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, "k", base), (2, "k", base + dt.timedelta(hours=6))],
        "id long, k string, t timestamp_ntz",
    )
    right = spark.createDataFrame(
        [
            ("k", base - dt.timedelta(seconds=60), 1.0),  # 60s before
            ("k", base + dt.timedelta(seconds=60), 2.0),  # 60s after: tie
        ],
        "k string, t timestamp_ntz, v double",
    )
    out = {
        r["id"]: (r["near_v"],)
        for r in asof_join(
            left,
            right,
            on="k",
            left_time="t",
            right_time="t",
            right_values={"v": "near_v"},
            direction="nearest",
            tolerance_secs=3600,
        ).collect()
    }
    assert out[1] == (1.0,)  # equal distance -> backward wins
    assert out[2] == (None,)  # nearest match is 5h59m away -> tolerance


def test_interval_overlap_counts_bucket_boundaries(spark):
    """Bucketed interval join: pairs straddling a bucket boundary are
    found (overlap implies a shared bucket of the common instant), long
    intervals count once despite many shared buckets, and
    non-overlapping A rows appear with n_overlap = 0."""
    import datetime as dt

    from pyspark.sql import Row

    from takuan_zoo.operators.intervals import overlap_counts

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    a = spark.createDataFrame(
        [
            Row(aid=1, s=T(10, 59), e=T(11, 1)),   # straddles 10->11
            Row(aid=2, s=T(3), e=T(9)),            # long: 7 buckets
            Row(aid=3, s=T(20), e=T(21)),          # overlaps nothing
        ]
    )
    b = spark.createDataFrame(
        [
            Row(bid=1, bs=T(11, 0), be=T(11, 30)),
            Row(bid=2, bs=T(4), be=T(8)),          # inside aid=2
            Row(bid=3, bs=T(1), be=T(5)),          # overlaps aid=2 too
        ]
    )
    out = {
        r["aid"]: r["n_overlap"]
        for r in overlap_counts(
            a, b,
            a_keys=["aid"], b_keys=["bid"],
            a_start="s", a_end="e", b_start="bs", b_end="be",
            bucket_secs=3600,
        ).collect()
    }
    assert out == {1: 1, 2: 2, 3: 0}


def test_interval_overlap_counts_duplicate_keys_canonicalized(spark):
    """Contract-violating input (same key, DIFFERENT endpoints) gets
    the documented deterministic treatment: ONE output row per key,
    carrying the lexicographically smallest (start, end) as the
    canonical interval, with the count computed for exactly that
    interval — never a raw duplicate row paired with another
    interval's count."""
    import datetime as dt

    from pyspark.sql import Row

    from takuan_zoo.operators.intervals import overlap_counts

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    # canonical pick for aid=1 is (10:00, 11:00); the (12:00, 14:00)
    # duplicate WOULD overlap b but must not be counted or emitted
    a = spark.createDataFrame(
        [
            Row(aid=1, s=T(10), e=T(11)),
            Row(aid=1, s=T(12), e=T(14)),
            Row(aid=2, s=T(12), e=T(13)),
        ]
    )
    b = spark.createDataFrame([Row(bid=1, bs=T(12, 30), be=T(13, 30))])
    rows = overlap_counts(
        a, b,
        a_keys=["aid"], b_keys=["bid"],
        a_start="s", a_end="e", b_start="bs", b_end="be",
        bucket_secs=3600,
    ).collect()
    got = {r["aid"]: (r["s"], r["e"], r["n_overlap"]) for r in rows}
    assert len(rows) == 2, f"duplicate key emitted twice: {rows}"
    assert got[1] == (T(10), T(11), 0)
    assert got[2] == (T(12), T(13), 1)


def test_interval_overlap_counts_malformed_intervals(spark):
    """Malformed intervals (end < start) are defined to overlap
    nothing: a malformed B interval contributes to no count — the
    rank identity's subtracted term is only a subset of the added
    term for well-formed B, so feeding it through would emit NEGATIVE
    counts — and a malformed A interval is emitted with exactly 0."""
    import datetime as dt

    from pyspark.sql import Row

    from takuan_zoo.operators.intervals import overlap_counts

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    a = spark.createDataFrame(
        [
            Row(aid=1, s=T(10), e=T(11)),   # well-formed, no overlap
            Row(aid=2, s=T(14), e=T(12)),   # malformed -> 0, not <0
        ]
    )
    # the malformed B row (be < bs) sits so that, unfiltered, aid=1
    # picks up the subtracted rank (be=9 < a_start=10) but NOT the
    # added rank (bs=15 > a_end=11): count would be 0 - 1 = -1
    b = spark.createDataFrame(
        [Row(bid=1, bs=T(15), be=T(9)), Row(bid=2, bs=T(13), be=T(13, 30))]
    )
    out = {
        r["aid"]: r["n_overlap"]
        for r in overlap_counts(
            a, b,
            a_keys=["aid"], b_keys=["bid"],
            a_start="s", a_end="e", b_start="bs", b_end="be",
            bucket_secs=3600,
        ).collect()
    }
    assert out == {1: 0, 2: 0}, f"malformed intervals leaked: {out}"


def test_interval_overlap_counts_reserved_columns_raise(spark):
    """A key/endpoint column named like the rank pass's internal
    bookkeeping must fail loudly (the global_ntile convention), not
    silently mix into the counts."""
    import datetime as dt

    import pytest
    from pyspark.sql import Row

    from takuan_zoo.operators.intervals import overlap_counts

    T = dt.datetime(2024, 1, 1, 10)
    a = spark.createDataFrame([Row(_bk=1, s=T, e=T)])
    b = spark.createDataFrame([Row(bid=1, bs=T, be=T)])
    with pytest.raises(ValueError, match="reserved by overlap_counts"):
        overlap_counts(
            a, b,
            a_keys=["_bk"], b_keys=["bid"],
            a_start="s", a_end="e", b_start="bs", b_end="be",
        )


def test_interval_overlap_counts_match_bruteforce_random(spark):
    """The sweep-line/rank counts must equal the brute-force O(n^2)
    census on a randomized interval set — including touching endpoints
    (a_end == b_start counts: the predicate is inclusive on both
    sides), sub-second boundaries (ranks run on microsecond epochs;
    second-truncated epochs would mis-rank them), duplicate interval
    keys (count once), contract-VIOLATING duplicates on both sides
    (same key, different endpoints: the lexicographically smallest
    (start, end) is the canonical representative, counted and emitted
    once), and zero-overlap rows (kept, 0)."""
    import datetime as dt
    import random

    from pyspark.sql import Row

    rng = random.Random(411)
    base = dt.datetime(2024, 1, 1)

    def mk(n, key):
        rows = []
        for i in range(n):
            s = base + dt.timedelta(
                seconds=rng.randint(0, 72 * 3600),
                microseconds=rng.choice((0, 1, 499999, 999999)),
            )
            e = s + dt.timedelta(seconds=rng.randint(0, 8 * 3600))
            rows.append({key: i, "s": s, "e": e})
        return rows

    a_rows, b_rows = mk(40, "aid"), mk(35, "bid")
    # touching endpoints: one exact a_end == b_start pair
    a_rows.append({"aid": 40, "s": base, "e": base + dt.timedelta(hours=1)})
    b_rows.append(
        {
            "bid": 35,
            "bs": base + dt.timedelta(hours=1),
            "be": base + dt.timedelta(hours=2),
        }
    )
    # duplicate b key: must count once
    b_rows.append({"bid": 0, "bs": b_rows[0]["s"], "be": b_rows[0]["e"]})
    # contract-violating duplicates: aid=3/bid=5 gain a lexicographically
    # LARGER twin (ignored), aid=7 a SMALLER one (becomes canonical)
    hour = dt.timedelta(hours=1)
    a_rows.append(
        {"aid": 3, "s": a_rows[3]["s"] + hour, "e": a_rows[3]["e"] + hour}
    )
    a_rows.append(
        {"aid": 7, "s": a_rows[7]["s"] - hour, "e": a_rows[7]["e"] - hour}
    )
    b_rows.append(
        {"bid": 5, "bs": b_rows[5]["s"] + hour, "be": b_rows[5]["e"] + hour}
    )
    b_norm = [
        {"bid": r["bid"], "bs": r.get("bs", r.get("s")), "be": r.get("be", r.get("e"))}
        for r in b_rows
    ]

    def canon(rows, key, s, e):
        best = {}
        for r in rows:
            iv = (r[s], r[e])
            if r[key] not in best or iv < best[r[key]]:
                best[r[key]] = iv
        return best

    a_canon = canon(a_rows, "aid", "s", "e")
    b_canon = canon(b_norm, "bid", "bs", "be")
    expected = {
        aid: (
            s,
            e,
            sum(1 for bs, be in b_canon.values() if s <= be and bs <= e),
        )
        for aid, (s, e) in a_canon.items()
    }

    from takuan_zoo.operators.intervals import overlap_counts

    a = spark.createDataFrame([Row(**r) for r in a_rows])
    b = spark.createDataFrame([Row(**r) for r in b_norm])
    rows = overlap_counts(
        a, b,
        a_keys=["aid"], b_keys=["bid"],
        a_start="s", a_end="e", b_start="bs", b_end="be",
        bucket_secs=3600,
    ).collect()
    got = {r["aid"]: (r["s"], r["e"], r["n_overlap"]) for r in rows}
    assert len(rows) == len(got), "duplicate key emitted more than once"
    assert got == expected
