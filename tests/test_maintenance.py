"""Compaction planner and zone-map prune estimator semantics, plus the
governance queries' invariants (leakage-safety, k-anonymity floor)."""

from __future__ import annotations

from pyspark.sql import functions as F

from takuan_zoo.operators.maintenance import (
    compaction_bins,
    compaction_plan,
    prune_estimate,
    zonemap_stats,
)


def _files(spark):
    # two partitions; sizes chosen so p1 packs [100,200,300],[400],[500]
    # at target 600: bins split where the EXCLUSIVE running sum crosses.
    rows = [
        ("p1", 1, 100),
        ("p1", 2, 200),
        ("p1", 3, 300),
        ("p1", 4, 400),
        ("p1", 5, 500),
        ("p2", 1, 50),
        ("p2", 2, 50),
    ]
    return spark.createDataFrame(rows, ["part", "fid", "size"])


def test_compaction_bins_sequential_packing(spark):
    out = compaction_bins(
        _files(spark),
        size_col="size",
        order_cols=["fid"],
        partition_cols=["part"],
        target_bytes=600,
    ).collect()
    got = {(r["part"], r["fid"]): r["bin"] for r in out}
    # p1 exclusive cumsums: 0,100,300,600,1000 -> bins 0,0,0,1,1
    assert got[("p1", 1)] == 0
    assert got[("p1", 2)] == 0
    assert got[("p1", 3)] == 0
    assert got[("p1", 4)] == 1
    assert got[("p1", 5)] == 1
    # p2 both fit bin 0
    assert got[("p2", 1)] == 0 and got[("p2", 2)] == 0


def test_compaction_bins_tied_order_keys_keep_invariant(spark):
    # 5 files with IDENTICAL order key: the default RANGE frame would
    # give them all the same inclusive running sum (one 2000-byte
    # mega-bin at target 600); the explicit ROWS frame packs them
    # sequentially so every bin stays under target + one file.
    rows = [("p1", 7, 400)] * 5
    out = compaction_bins(
        spark.createDataFrame(rows, ["part", "fid", "size"]),
        size_col="size",
        order_cols=["fid"],
        partition_cols=["part"],
        target_bytes=600,
    ).collect()
    by_bin: dict = {}
    for r in out:
        by_bin.setdefault(r["bin"], []).append(r["size"])
    # exclusive cumsums 0,400,800,1200,1600 -> bins 0,0,1,2,2
    assert sorted(len(v) for v in by_bin.values()) == [1, 2, 2]
    assert all(sum(v) <= 600 + 400 for v in by_bin.values())


def test_compaction_plan_rollup(spark):
    plan = {
        (r["part"], r["bin"]): (r["n_files"], r["bytes"])
        for r in compaction_plan(
            _files(spark),
            size_col="size",
            order_cols=["fid"],
            partition_cols=["part"],
            target_bytes=600,
        ).collect()
    }
    assert plan[("p1", 0)] == (3, 600)
    assert plan[("p1", 1)] == (2, 900)
    assert plan[("p2", 0)] == (2, 100)


def test_compaction_rejects_bad_target(spark):
    import pytest

    with pytest.raises(ValueError):
        compaction_bins(
            _files(spark),
            size_col="size",
            order_cols=["fid"],
            partition_cols=["part"],
            target_bytes=0,
        )


def test_zonemap_prune_counts(spark):
    # 3 files: f0 has b in [0,10], f1 in [20,30], f2 in [50,60]
    rows = [(0, 0), (0, 10), (1, 20), (1, 30), (2, 50), (2, 60)]
    df = spark.createDataFrame(rows, ["f", "b"])
    zm = zonemap_stats(df, file_col="f", value_cols=["b"])
    est = prune_estimate(zm, col="b", lo=F.lit(25), hi=F.lit(40)).collect()[0]
    # only f1 overlaps [25,40]; f0 (max 10 < 25) and f2 (min 50 > 40) prune
    assert est["n_files"] == 3
    assert est["n_prunable"] == 2
    assert abs(est["scan_fraction"] - 1 / 3) < 1e-6


def test_zonemap_query_zorder_beats_natural(spark):
    from takuan_zoo.queries.maintenance import q_zonemap_prune_compare

    rows = {
        r["layout"]: r
        for r in q_zonemap_prune_compare(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert rows["zorder"]["scan_fraction"] < rows["natural"]["scan_fraction"]
    assert rows["natural"]["n_prunable"] == 0 or (
        rows["natural"]["n_prunable"] < rows["zorder"]["n_prunable"]
    )


def test_leakage_safe_split_invariants(spark):
    from takuan_zoo.queries.governance import ns_leakage_safe_split

    rows = ns_leakage_safe_split(spark, "/root/testdata/sf0.001").collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # the content-grouped split can NEVER leak a duplicate group
    assert all(r["leaked_grouped"] == 0 for r in rows)
    assert sum(r["n_docs"] for r in rows) > 0


def test_k_anonymity_all_below_threshold(spark):
    from takuan_zoo.queries.governance import ns_k_anonymity

    rows = ns_k_anonymity(spark, "/root/testdata/sf0.001").collect()
    assert all(1 <= r["k"] < 5 for r in rows)
    assert all(r["n_rows"] >= r["k"] for r in rows)


def test_tokenizer_fertility_bounds(spark):
    from takuan_zoo.queries.governance import ns_tokenizer_fertility

    rows = ns_tokenizer_fertility(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 1
    for r in rows:
        # subword tokenization can only split words further
        assert r["subword_tokens"] >= r["ws_tokens"]
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] > 0


def test_boilerplate_strip_cuts_shared_grams(spark):
    import hashlib

    from takuan_zoo.operators.dedup import boilerplate_strip

    shared = "alpha beta gamma delta epsilon"  # 5-gram in both docs
    rows = [
        (1, f"{shared} unique one tail"),
        (2, f"lead {shared} other ending"),
        (3, "completely different text entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in boilerplate_strip(df, n=5, min_docs=2).collect()}
    # doc 1: 8 words, the 5 shared cut
    assert out[1]["n_words"] == 8 and out[1]["n_removed"] == 5
    assert out[1]["cleaned_hash"] == hashlib.md5(b"unique one tail").hexdigest()
    # doc 2: shared gram starts at pos 1
    assert out[2]["n_removed"] == 5
    assert out[2]["cleaned_hash"] == hashlib.md5(b"lead other ending").hexdigest()
    # doc 3 untouched
    assert out[3]["n_removed"] == 0
    assert (
        out[3]["cleaned_hash"]
        == hashlib.md5(b"completely different text entirely here now").hexdigest()
    )


def test_boilerplate_strip_full_removal_yields_empty_hash(spark):
    import hashlib

    from takuan_zoo.operators.dedup import boilerplate_strip

    t = "one two three four five"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    out = boilerplate_strip(df, n=5, min_docs=2).collect()
    for r in out:
        assert r["n_removed"] == 5
        assert r["cleaned_hash"] == hashlib.md5(b"").hexdigest()


def test_audio_segments_match_md5_plan(spark):
    import hashlib

    from takuan_zoo.operators.multimodal import (
        audio_segments,
        frame_rms,
        synth_wav,
    )

    ids = [3, 11]
    rows = [(i, bytearray(synth_wav(i))) for i in ids]
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    frames = frame_rms(media, n_frames=32)
    segs = audio_segments(frames, threshold=0.25).collect()

    def expected(doc_id):
        loud = [
            f
            for f in range(32)
            if int(hashlib.md5(f"{doc_id}:{f}".encode()).hexdigest()[:8], 16)
            % 2
            == 1
        ]
        runs, start = [], None
        for f in range(33):
            if f in loud and start is None:
                start = f
            elif f not in loud and start is not None:
                runs.append((start, f - 1))
                start = None
        return runs

    for i in ids:
        got = [
            (r["seg_start"], r["seg_end"])
            for r in segs
            if r["media_id"] == i
        ]
        assert got == expected(i), (i, got, expected(i))
    # square wave RMS is exactly 0.5
    assert all(abs(r["mean_rms"] - 0.5) < 1e-9 for r in segs)


def test_frame_rms_quarantines_corrupt_payload(spark):
    from takuan_zoo.operators.multimodal import frame_rms, synth_wav

    rows = [(1, bytearray(synth_wav(1))), (2, bytearray(b"not a wav"))]
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    out = frame_rms(media, n_frames=32).collect()
    good = [r for r in out if r["media_id"] == 1]
    bad = [r for r in out if r["media_id"] == 2]
    assert len(good) == 32
    assert len(bad) == 1 and bad[0]["frame"] == -1 and bad[0]["rms"] is None


def test_ewma_anomaly_flags_planted_spike(spark):
    import datetime

    # planted-spike check on a manual frame, using the same constants
    # and window shape as the registered q_ewma_anomaly query
    base = datetime.datetime(2026, 1, 1)
    rows = []
    for i in range(30):
        v = 10.0 + (0.1 * (i % 3))  # stable series
        if i == 20:
            v = 500.0  # spike
        rows.append((1, base + datetime.timedelta(seconds=i), i, v))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = w.rowsBetween(-12, -1)
    num, den = None, None
    for k in range(1, 13):
        wl = 0.7**k
        lagv = F.lag("value", k).over(w)
        tn = F.lit(wl) * F.coalesce(lagv, F.lit(0.0))
        td = F.lit(wl) * F.when(lagv.isNull(), 0.0).otherwise(1.0)
        num = tn if num is None else num + tn
        den = td if den is None else den + td
    sig = F.stddev_samp("value").over(hist)
    n = F.count("value").over(hist)
    flagged = (
        df.select("event_id", "value", num.alias("nm"), den.alias("dn"),
                  sig.alias("sg"), n.alias("nh"))
        .where((F.col("nh") >= 6) & (F.col("sg") > 0)
               & (F.abs(F.col("value") - F.col("nm") / F.col("dn"))
                  > 3 * F.col("sg")))
        .collect()
    )
    assert any(r["event_id"] == 20 for r in flagged)
    # the stable tail after the spike inflates sigma; nothing before
    # the spike fires
    assert all(r["event_id"] >= 20 for r in flagged)


def test_dq_audit_clean_testdata(spark):
    from takuan_zoo.queries.governance import q_dq_audit

    rows = {r["check_name"]: r for r in q_dq_audit(spark, "/root/testdata/sf0.001").collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["n_violations"] >= 0 and r["n_checked"] > 0
    # synthetic testdata is referentially intact
    assert rows["lineitem_orphan_orderkey"]["n_violations"] == 0
    assert rows["orders_duplicate_pk"]["n_violations"] == 0


def test_dynamic_vs_static_partition_overwrite(spark, tmp_path):
    """The contrast q_backfill_overwrite's contract rests on: with the
    SAME single-day writer, dynamic mode replaces only the day being
    written while static mode (Spark's default) clobbers every other
    partition of the table — the data-loss bug class dynamic overwrite
    exists to prevent."""
    rows = [(d, i, float(i)) for d in ("2026-01-01", "2026-01-02", "2026-01-03") for i in range(4)]
    df = spark.createDataFrame(rows, "day string, event_id bigint, value double")

    def backfill(path, mode):
        df.write.partitionBy("day").parquet(path)
        (
            df.where(F.col("day") == "2026-01-02")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", mode)
            .partitionBy("day")
            .parquet(path)
        )
        # partition-column type inference reads day= back as a DATE
        return sorted(
            str(r.day)
            for r in spark.read.parquet(path).select("day").distinct().collect()
        )

    assert backfill(str(tmp_path / "dyn"), "dynamic") == [
        "2026-01-01", "2026-01-02", "2026-01-03",
    ]
    assert backfill(str(tmp_path / "stat"), "static") == ["2026-01-02"]


def test_bucket_pruning_point_lookup(spark, tmp_path):
    """Bucket PRUNING — the read-side half of the layout
    q_bucketed_join certifies for joins: an equality filter on the
    bucket key needs to read ONE of the N buckets. Two pins, because
    Spark's defaults hide the feature: (1) out of the box the
    DisableUnnecessaryBucketedScan rule turns the bucketed scan OFF
    for a pure filter (it only values avoided exchanges, not pruning
    — the plan says 'disabled by query planner'), so a point lookup
    scans all files; (2) with autoBucketedScan disabled the same
    query prunes to SelectedBucketsCount: 1 out of 8. A 100 TB
    deployment doing point lookups on a bucketed table must set that
    conf or lose the layout's read-side benefit entirely."""
    import re

    spark.sql("DROP TABLE IF EXISTS bkt_prune_t")
    (
        spark.range(1000)
        .selectExpr("id as k", "id * 2 as v")
        .write.option("path", str(tmp_path / "t"))
        .bucketBy(8, "k")
        .saveAsTable("bkt_prune_t")
    )

    def plan_of_lookup() -> str:
        df = spark.table("bkt_prune_t").where(F.col("k") == 411)
        assert [(r.k, r.v) for r in df.collect()] == [(411, 822)]
        return df._jdf.queryExecution().executedPlan().toString()

    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
        assert "disabled by query planner" in plan_of_lookup()
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        m = re.search(
            r"SelectedBucketsCount: (\d+) out of (\d+)", plan_of_lookup()
        )
        assert m and m.groups() == ("1", "8"), m
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev
        )
        spark.sql("DROP TABLE IF EXISTS bkt_prune_t")
