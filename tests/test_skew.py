"""Skew helpers: ``spread`` widens a narrow scan before per-row CPU
work; the zoo's salting utilities must be semantics-preserving (salted
plans equal their unsalted counterparts on skewed data)."""

from __future__ import annotations

from pyspark.sql import functions as F

from takuan_zoo.operators.skew import salted_agg, salted_join


def _skewed_df(spark):
    # one hot key (90%) + long tail
    hot = [("hot", float(i % 10)) for i in range(900)]
    tail = [(f"k{i}", float(i)) for i in range(100)]
    return spark.createDataFrame(hot + tail, ["key", "v"])


def test_salted_agg_matches_plain(spark):
    df = _skewed_df(spark)
    plain = {
        (r["key"]): (r["cnt"], round(r["s"], 6))
        for r in df.groupBy("key")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r["key"]): (r["cnt"], round(r["s"], 6))
        for r in salted_agg(
            df,
            ["key"],
            aggs=lambda: [F.count("*").alias("c1"), F.sum("v").alias("s1")],
            reaggs=lambda: [
                F.sum("c1").alias("cnt"),
                F.sum("s1").alias("s"),
            ],
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    probe = _skewed_df(spark)
    build = spark.createDataFrame(
        [("hot", "HOT"), ("k5", "K5"), ("k50", "K50")], ["key", "label"]
    )
    plain = sorted(
        map(tuple, probe.join(build, "key").select("key", "v", "label").collect())
    )
    salted = sorted(
        map(
            tuple,
            salted_join(probe, build, "key").select("key", "v", "label").collect(),
        )
    )
    assert salted == plain


def test_salted_join_left_outer(spark):
    probe = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["key", "v"])
    build = spark.createDataFrame([("a", "A")], ["key", "label"])
    got = {
        r["key"]: r["label"]
        for r in salted_join(probe, build, "key", how="left").collect()
    }
    assert got == {"a": "A", "b": None}


def test_spread_noop_on_wide_input(spark):
    from takuan_spark.operators.skew import spread

    wide = spark.range(1000, numPartitions=64)
    assert spread(wide.toDF("id")).rdd.getNumPartitions() == 64
    narrow = spark.range(1000, numPartitions=1).toDF("id")
    assert spread(narrow).rdd.getNumPartitions() >= 4


def test_materialize_preserves_rows(spark):
    """Default (checkpoint-backed) materialize: rows preserved, plan
    truncated to a flat scan over the materialized RDD."""
    from takuan_zoo.operators.skew import materialize

    df = spark.range(100).toDF("id")
    m = materialize(df)
    assert sorted(r["id"] for r in m.collect()) == list(range(100))
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LocalTableScan" in plan


def test_key_skew_profile_uniform_vs_hot(spark):
    from takuan_zoo.operators.skew import key_skew_profile

    uniform = spark.createDataFrame(
        [(i % 10,) for i in range(1000)], "k int"
    )
    row = key_skew_profile(uniform, key_cols=["k"], topk=3).collect()[0]
    assert row["n_keys"] == 10 and row["total"] == 1000
    assert row["max_share"] == 0.1 and row["topk_share"] == 0.3
    assert row["norm_entropy"] == 1.0  # perfectly uniform

    hot = spark.createDataFrame(
        [(0,)] * 991 + [(i,) for i in range(1, 10)], "k int"
    )
    row = key_skew_profile(hot, key_cols=["k"], topk=3).collect()[0]
    assert row["max_share"] == 0.991
    assert row["norm_entropy"] < 0.05  # one key dominates


def test_zorder_key_matches_python_reference(spark):
    from takuan_zoo.operators.layout import zorder_key2

    rows = [(a, b) for a in (0, 1, 37, 255) for b in (0, 2, 129, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_key2(F.col("a"), F.col("b"), bits=8).alias("z")
        ).collect()
    }

    def ref(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    assert got == {(a, b): ref(a, b) for a, b in rows}


def test_zorder_ranges_bound_both_dims(spark):
    # every contiguous top-4-bit key range confines both dimensions to
    # a 64-wide band — the row-group pruning property.
    from takuan_zoo.operators.layout import zorder_key2

    rows = [(a, b) for a in range(0, 256, 5) for b in range(0, 256, 7)]
    df = spark.createDataFrame(rows, "a long, b long")
    spans = (
        df.select(
            "a", "b", zorder_key2(F.col("a"), F.col("b"), bits=8).alias("z")
        )
        .groupBy(F.floor(F.col("z") / 4096).alias("zb"))
        .agg(
            (F.max("a") - F.min("a")).alias("sa"),
            (F.max("b") - F.min("b")).alias("sb"),
        )
        .collect()
    )
    assert spans and all(r["sa"] <= 63 and r["sb"] <= 63 for r in spans)


def test_key_skew_profile_empty_input(spark):
    from takuan_zoo.operators.skew import key_skew_profile

    empty = spark.createDataFrame([], "k int")
    row = key_skew_profile(empty, key_cols=["k"]).collect()[0]
    # explicit zeroed diagnostic, NULL shares (0/0 is undefined, not 0)
    assert row["n_keys"] == 0 and row["total"] == 0
    assert row["max_share"] is None and row["topk_share"] is None
    assert row["norm_entropy"] is None


def _tracked_persist(df):
    """Persist ``df`` and track it the way ``snapshot``'s persist
    fallback does on sessions without ``localCheckpoint``."""
    from takuan_zoo.operators import skew

    df = df.persist()
    skew._MATERIALIZED.append(df)
    return df


def test_release_materialized_unpersists_tracked_frames(spark):
    """Tracked persisted frames are released; checkpointed frames (the
    default) hold no cache-manager entry to release."""
    from takuan_zoo.operators.skew import release_materialized

    release_materialized()  # drain anything a prior test left behind
    df = _tracked_persist(spark.range(10))
    df.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert release_materialized() >= 1
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def test_registry_builder_releases_previous_query_caches(spark):
    """The zoo's REGISTRY wrapper must drop the previous query's tracked
    caches when the next query starts (cache hygiene in sessions the
    harness doesn't own, e.g. pytest's shared session)."""
    from takuan_zoo.operators.skew import release_materialized
    from takuan_zoo.queries import REGISTRY, _load

    _load()
    release_materialized()
    leftover = _tracked_persist(spark.range(5))
    leftover.count()
    assert leftover.storageLevel.useMemory or leftover.storageLevel.useDisk
    REGISTRY["q_distinct_count"].builder(spark, "/root/testdata/sf0.001")
    assert not (
        leftover.storageLevel.useMemory or leftover.storageLevel.useDisk
    )
