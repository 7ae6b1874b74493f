"""Sink semantics: date-partitioned events and single-file CSV reports
(takuan_spark/sinks/writers.py); the zoo's training shards, clustered
and z-ordered layouts, ORC and write-audit-publish
(takuan_zoo/sinks/writers.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from takuan_spark.sinks.writers import write_csv_report, write_events
from takuan_spark.tables import load_table
from takuan_zoo.sinks.writers import write_training_shards


def test_write_events_partitions_by_date(spark, tmp_path):
    df = spark.createDataFrame(
        [("1.1.1.1", "2026-08-13 06:00:00"), ("2.2.2.2", "2026-08-14 07:00:00")],
        "address string, created_at string",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    out = str(tmp_path / "events")
    write_events(df, out)
    dirs = {d for d in os.listdir(out) if d.startswith("event_date=")}
    assert dirs == {"event_date=2026-08-13", "event_date=2026-08-14"}
    assert spark.read.parquet(out).count() == 2


def test_write_csv_report_single_file_with_header(spark, tmp_path):
    df = spark.createDataFrame([("a", 3), ("b", 1)], "k string, n int")
    out = str(tmp_path / "report")
    write_csv_report(df, out)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(files) == 1
    lines = open(os.path.join(out, files[0])).read().splitlines()
    assert lines[0] == "k,n" and len(lines) == 3


def test_training_shards_deterministic_and_one_file_per_shard(
    spark, sf_dir, tmp_path
):
    docs = load_table(spark, sf_dir, "documents")
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, out1, n_shards=8, key_col="doc_id")
    # different input partitioning -> identical shard assignment
    write_training_shards(docs.repartition(13), out2, n_shards=8, key_col="doc_id")
    r1 = spark.read.parquet(out1)
    r2 = spark.read.parquet(out2)
    m1 = {r["doc_id"]: r["shard"] for r in r1.select("doc_id", "shard").collect()}
    m2 = {r["doc_id"]: r["shard"] for r in r2.select("doc_id", "shard").collect()}
    assert m1 == m2 and len(m1) == docs.count()
    shard_dirs = [d for d in os.listdir(out1) if d.startswith("shard=")]
    assert len(shard_dirs) == 8
    # no small-file explosion: one data file per shard directory
    for d in shard_dirs:
        files = [f for f in os.listdir(os.path.join(out1, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # every shard non-trivially populated (xxhash spreads keys)
    sizes = r1.groupBy("shard").count().collect()
    assert len(sizes) == 8 and min(s["count"] for s in sizes) > 0


def test_write_clustered_ranges_are_disjoint(spark, sf_dir, tmp_path):
    """Clustered layout: each output file holds a disjoint, internally
    sorted range of the cluster column — the property parquet min/max
    pruning needs."""
    import pyarrow.parquet as pq

    from takuan_zoo.sinks.writers import write_clustered

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "clustered")
    write_clustered(docs, out, cluster_cols=["doc_id"], n_files=4)
    ranges = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        col = pq.read_table(os.path.join(out, f), columns=["doc_id"])["doc_id"]
        vals = col.to_pylist()
        assert vals == sorted(vals), f"{f} not sorted within file"
        if vals:
            ranges.append((min(vals), max(vals)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file ranges overlap"


def test_orc_round_trip_with_partition_pruning(spark, tmp_path):
    from takuan_zoo.sinks.writers import write_events_orc
    from takuan_zoo.sources.readers import read_orc

    df = spark.createDataFrame(
        [
            ("1.1.1.1", "2026-08-12 06:00:00", "ssh", "r1"),
            ("2.2.2.2", "2026-08-13 07:00:00", "ssh", "r2"),
        ],
        "address string, created_at string, sensor string, rule string",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    path = str(tmp_path / "events_orc")
    write_events_orc(df, path)
    back = read_orc(spark, path)
    assert back.count() == 2
    one_day = back.where(F.col("event_date") == "2026-08-13")
    assert [r["address"] for r in one_day.collect()] == ["2.2.2.2"]
    # date filter lands as a partition filter (directory pruning)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan


def test_read_avro_raises_clear_error_without_package(spark, tmp_path):
    import pytest as _pytest

    from takuan_zoo.sources.readers import read_avro

    with _pytest.raises(RuntimeError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "nope.avro"))


def test_write_zordered_tightens_rowgroup_stats(spark, tmp_path):
    """The layout pass must leave each parquet file covering a narrow
    band of BOTH dimensions (vs the full range unsorted) — the
    min/max-pruning property, checked on the actual file footers."""
    import pyarrow.parquet as pq

    from takuan_zoo.sinks.writers import write_zordered

    rows = [(i * 37 % 256, i * 91 % 256) for i in range(20000)]
    df = spark.createDataFrame(rows, "a long, b long").repartition(8)
    out = str(tmp_path / "z")
    write_zordered(df, out, a_col="a", b_col="b", bits=8, n_files=16)

    import glob

    spans = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            cols = {
                g.column(i).path_in_schema: g.column(i).statistics
                for i in range(g.num_columns)
            }
            spans.append(
                (
                    cols["a"].max - cols["a"].min,
                    cols["b"].max - cols["b"].min,
                )
            )
    assert spans
    # A contiguous Morton range maps to a small rectangle EXCEPT where
    # it straddles a quadrant boundary, so the pruning claim is
    # distributional: the typical row group is tight on BOTH dims
    # (unsorted layout: every row group spans the full 255).
    import statistics

    assert statistics.median(s[0] for s in spans) <= 127
    assert statistics.median(s[1] for s in spans) <= 127
    tight = sum(1 for s in spans if s[0] <= 127 and s[1] <= 127)
    assert tight / len(spans) >= 0.5
    # and the written data survives the round trip
    assert spark.read.parquet(out).count() == 20000


def test_wap_publish_gates_and_swaps(spark, tmp_path):
    import pytest as _pytest

    from takuan_zoo.sinks.writers import (
        AuditFailure,
        min_rows,
        no_nulls,
        not_empty,
        wap_publish,
    )

    path = str(tmp_path / "corpus")
    good = spark.createDataFrame([(1, "a"), (2, "b")], "id long, t string")
    wap_publish(
        good, path, checks=[not_empty, min_rows(2), no_nulls("id", "t")]
    )
    assert spark.read.parquet(path).count() == 2

    # a failing publish must leave the live table exactly as it was
    bad = spark.createDataFrame([(3, None)], "id long, t string")
    with _pytest.raises(AuditFailure):
        wap_publish(bad, path, checks=[no_nulls("t")])
    live = spark.read.parquet(path)
    assert live.count() == 2  # previous version still served
    assert {r["id"] for r in live.collect()} == {1, 2}
    # staging kept for inspection
    import os

    assert os.path.isdir(path + ".staging")


def test_orc_partition_prune_reads_only_matching_partitions(spark, sf_dir):
    from takuan_zoo.queries.ingest import q_orc_partition_prune

    df = q_orc_partition_prune(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the lang predicate must land in the partition filters, not as a
    # post-scan row filter over every partition
    assert "lang" in plan.split("PartitionFilters")[1][:200]
