"""Unit tests for the sketch aggregates: KMV partitioning invariance
(the property that makes the approximate answer oracle-checkable) and
CMS estimate guarantees. Oracle comparison lives in test_oracle.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from takuan_zoo.operators import sketches


def _toks(spark, n_parts):
    rows = [("s%d" % (i % 2), "tok%d" % (i % 37)) for i in range(500)]
    return spark.createDataFrame(rows, "source string, tok string").repartition(
        n_parts
    )


def test_kmv_exact_below_k_and_partition_invariant(spark):
    # 37 distinct per source < k=64 -> exact count; and the result must
    # not depend on how the input was partitioned (merge associativity).
    outs = []
    for n_parts in (1, 7):
        out = (
            sketches.kmv_distinct(
                _toks(spark, n_parts), group_cols=["source"], value_col="tok", k=64
            )
            .orderBy("source")
            .collect()
        )
        outs.append([(r["source"], r["est_distinct"], r["n_kept"]) for r in out])
    assert outs[0] == outs[1]
    assert all(est == 37 and kept == 37 for _, est, kept in outs[0])


def test_kmv_handles_empty_partitions(spark):
    # 10 rows spread over 50 partitions: most partitions are empty, and
    # their empty Arrow batches must carry object-dtyped list columns
    # (a float64-inferred empty column fails list<bigint> conversion).
    rows = [("s", f"t{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "source string, tok string").repartition(50)
    out = sketches.kmv_distinct(
        df, group_cols=["source"], value_col="tok", k=64
    ).collect()
    assert out[0]["est_distinct"] == 10


def test_kmv_estimate_accuracy_above_k(spark):
    rows = [("s", f"item-{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "source string, tok string").repartition(11)
    out = sketches.kmv_distinct(
        df, group_cols=["source"], value_col="tok", k=64
    ).collect()[0]
    assert out["n_kept"] == 64
    # KMV with k=64 has ~1/sqrt(62) ~ 13% std error; allow 3 sigma.
    assert 3000 < out["est_distinct"] < 7500


def test_cms_estimate_upper_bounds_and_zero_for_absent(spark):
    rows = [("s", "alpha")] * 40 + [("s", "beta")] * 7 + [("s", "gamma")] * 1
    toks = spark.createDataFrame(rows, "source string, tok string")
    counters = sketches.cms_counters(
        toks, group_cols=["source"], value_col="tok", depth=4, width=256
    )
    probes = spark.createDataFrame(
        [("alpha",), ("beta",), ("never-seen",)], "term string"
    )
    out = {
        r["term"]: r["est_count"]
        for r in sketches.cms_estimate(
            counters, probes, group_cols=["source"], depth=4, width=256
        ).collect()
    }
    # CMS never underestimates; with 3 items in 4x256 cells collisions
    # are essentially impossible, so estimates are exact here.
    assert out["alpha"] == 40
    assert out["beta"] == 7
    assert out["never-seen"] == 0


def test_cms_numeric_value_column_matches_string_probes(spark):
    # F.md5 requires string/binary input: the counters must cast the
    # value column, so an INT value column analyzes and hashes
    # identically to its decimal-string probe.
    rows = [("s", 42)] * 9 + [("s", 7)] * 3
    toks = spark.createDataFrame(rows, "source string, tok int")
    counters = sketches.cms_counters(
        toks, group_cols=["source"], value_col="tok", depth=4, width=256
    )
    probes = spark.createDataFrame([("42",), ("7",)], "term string")
    out = {
        r["term"]: r["est_count"]
        for r in sketches.cms_estimate(
            counters, probes, group_cols=["source"], depth=4, width=256
        ).collect()
    }
    assert out == {"42": 9, "7": 3}


def test_cms_depth_over_32_raises(spark):
    # depth > 32 would slice zero-length md5 lanes (conv('') -> NULL
    # buckets, silent sketch corruption) — both entry points refuse.
    import pytest

    toks = spark.createDataFrame([("s", "a")], "source string, tok string")
    with pytest.raises(ValueError, match="depth"):
        sketches.cms_counters(
            toks, group_cols=["source"], value_col="tok", depth=33, width=8
        )
    counters = sketches.cms_counters(
        toks, group_cols=["source"], value_col="tok", depth=4, width=8
    )
    probes = spark.createDataFrame([("a",)], "term string")
    with pytest.raises(ValueError, match="depth"):
        sketches.cms_estimate(
            counters, probes, group_cols=["source"], depth=33, width=8
        )


def test_hll_partition_invariant_and_merge(spark):
    # The estimate must not depend on input partitioning (integer
    # fixed-point harmonic sum), and merging two half-sketches must
    # equal the sketch of the union (max-sketch associativity).
    full = _toks(spark, 1)
    outs = []
    for n_parts in (1, 7):
        out = (
            sketches.hll_distinct(
                _toks(spark, n_parts), group_cols=["source"], value_col="tok"
            )
            .orderBy("source")
            .collect()
        )
        outs.append([tuple(r) for r in out])
    assert outs[0] == outs[1]

    half_a = full.where(F.col("tok") < "tok3")
    half_b = full.where(~(F.col("tok") < "tok3"))
    merged = sketches.hll_merge(
        sketches.hll_registers(half_a, group_cols=["source"], value_col="tok")
        .unionAll(
            sketches.hll_registers(
                half_b, group_cols=["source"], value_col="tok"
            )
        ),
        group_cols=["source"],
    )
    via_merge = [
        tuple(r)
        for r in sketches.hll_estimate(merged, group_cols=["source"])
        .orderBy("source")
        .collect()
    ]
    assert via_merge == outs[0]


def test_hll_estimate_accuracy(spark):
    # m=64 -> ~13% std error; allow generous 3-sigma bands. Small side
    # exercises linear counting, large side the raw estimator.
    small = spark.createDataFrame(
        [("s", f"v{i}") for i in range(30)], "source string, tok string"
    )
    est = sketches.hll_distinct(
        small, group_cols=["source"], value_col="tok"
    ).collect()[0]["est_distinct"]
    assert 15 <= est <= 50

    big = spark.createDataFrame(
        [("s", f"item-{i}") for i in range(20000)],
        "source string, tok string",
    ).repartition(13)
    est = sketches.hll_distinct(
        big, group_cols=["source"], value_col="tok"
    ).collect()[0]["est_distinct"]
    assert 12000 < est < 30000


def test_hll_skips_null_values(spark):
    rows = [("s", "a"), ("s", None), ("s", "b")]
    out = sketches.hll_distinct(
        spark.createDataFrame(rows, "source string, tok string"),
        group_cols=["source"],
        value_col="tok",
    ).collect()[0]
    # NULL hashes to no register: 2 registers touched, linear count 2.
    assert out["n_regs"] == 2


def test_histogram_quantiles_interpolation(spark):
    # Uniform 0..999 over [0, 1000) with 10 bins: p50 interpolates to
    # 500 exactly (target 500 falls at the boundary of bin 5's span),
    # p90 to 900.
    df = spark.createDataFrame([(i * 1.0,) for i in range(1000)], "v double")
    hist = sketches.histogram_sketch(
        df.withColumn("g", F.lit("all")),
        group_cols=["g"], value_col="v", lo=0.0, hi=1000.0, bins=10,
    )
    out = {
        r["q"]: r["est"]
        for r in sketches.histogram_quantiles(
            hist, group_cols=["g"], lo=0.0, hi=1000.0, bins=10,
            qs=(0.5, 0.9),
        ).collect()
    }
    assert out == {0.5: 500.0, 0.9: 900.0}


def test_histogram_sketch_clamps_out_of_range(spark):
    df = spark.createDataFrame(
        [(-5.0,), (50.0,), (1e9,)], "v double"
    ).withColumn("g", F.lit("all"))
    hist = {
        r["bin"]: r["c"]
        for r in sketches.histogram_sketch(
            df, group_cols=["g"], value_col="v", lo=0.0, hi=100.0, bins=4
        ).collect()
    }
    # -5 clamps into bin 0, 50 lands in bin 2 (width 25), 1e9 clamps
    # into the last bin.
    assert hist == {0: 1, 2: 1, 3: 1}


def test_histogram_sketch_merges_linearly(spark):
    # Sketch of a union == cell-wise sum of the halves' sketches.
    rows = [(i, float(i % 97)) for i in range(500)]
    df = spark.createDataFrame(rows, "i int, v double").withColumn(
        "g", F.lit("a")
    )
    kw = dict(group_cols=["g"], value_col="v", lo=0.0, hi=100.0, bins=16)
    whole = {
        (r["g"], r["bin"]): r["c"]
        for r in sketches.histogram_sketch(df, **kw).collect()
    }
    h1 = sketches.histogram_sketch(df.where(F.col("i") % 2 == 0), **kw)
    h2 = sketches.histogram_sketch(df.where(F.col("i") % 2 == 1), **kw)
    merged = {
        (r["g"], r["bin"]): r["c"]
        for r in h1.unionAll(h2)
        .groupBy("g", "bin")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    assert merged == whole


def test_cms_join_size_never_underestimates(spark):
    # CMS inner products only over-count (collisions add, never
    # subtract): the F2 estimate upper-bounds the exact self-join size,
    # and with few keys in 4x256 cells it is exact.
    rows = [("u%d" % (i % 7),) for i in range(200)]
    df = spark.createDataFrame(rows, "uid string").withColumn(
        "g", F.lit("all")
    )
    grid = sketches.cms_counters(
        df, group_cols=["g"], value_col="uid", depth=4, width=256
    )
    est = (
        grid.groupBy("row")
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
        .agg(F.min("f2").alias("est"))
        .collect()[0]["est"]
    )
    exact = sum(
        c * c
        for c in [len([i for i in range(200) if i % 7 == k]) for k in range(7)]
    )
    assert est == exact  # no collisions at this cardinality


def test_sliding_hll_merges_daily_registers(spark):
    # 3 days, overlapping users; the 2-day-window merge must equal the
    # sketch of the union of those days' rows.
    from datetime import date

    from takuan_zoo.operators import sketches

    rows = []
    for d, users in ((1, range(0, 30)), (2, range(20, 60)), (3, range(50, 55))):
        rows += [(date(2024, 1, d), f"u{u}") for u in users]
    df = spark.createDataFrame(rows, "day date, uid string")
    daily = sketches.hll_registers(df, group_cols=["day"], value_col="uid")
    days = daily.select(F.col("day").alias("win_day")).distinct()
    merged = (
        daily.join(
            F.broadcast(days),
            (F.col("day") <= F.col("win_day"))
            & (F.col("day") >= F.date_sub(F.col("win_day"), 1)),
        )
        .groupBy(F.col("win_day").alias("day"), "reg")
        .agg(F.max("r").cast("int").alias("r"))
    )
    got = {
        str(r["day"]): r["est_distinct"]
        for r in sketches.hll_estimate(merged, group_cols=["day"]).collect()
    }
    for d, lo, hi in ((1, range(0, 30), None), (2, range(0, 60), None), (3, range(20, 60), range(50, 55))):
        users = set(lo) | set(hi or [])
        direct = spark.createDataFrame(
            [("w", f"u{u}") for u in users], "g string, uid string"
        )
        want = sketches.hll_distinct(
            direct, group_cols=["g"], value_col="uid"
        ).collect()[0]["est_distinct"]
        assert got[f"2024-01-0{d}"] == want


def test_kmv_and_histogram_skip_null_values(spark):
    # NULL is no observation: it must neither enter the k-min set
    # (where Spark sorts NULL first, displacing a real hash) nor
    # create a NULL histogram bin that shifts every quantile.
    rows = [("s", "a"), ("s", None), ("s", "b"), ("s", "c")]
    out = sketches.kmv_distinct(
        spark.createDataFrame(rows, "source string, tok string"),
        group_cols=["source"], value_col="tok", k=64,
    ).collect()[0]
    assert (out["est_distinct"], out["n_kept"]) == (3, 3)

    vals = [(1.0,), (None,), (51.0,), (99.0,)]
    hist = {
        r["bin"]: r["c"]
        for r in sketches.histogram_sketch(
            spark.createDataFrame(vals, "v double").withColumn("g", F.lit("a")),
            group_cols=["g"], value_col="v", lo=0.0, hi=100.0, bins=4,
        ).collect()
    }
    assert hist == {0: 1, 2: 1, 3: 1}  # no NULL bin, no phantom count
