"""Physical-plan regression tests: the scale properties SURVEY.md §4.3
promises must be visible in the executed plans, not just intended.

These assert on explain() output so a refactor that silently breaks
pushdown, pruning, broadcast choice, or adds a stray shuffle fails CI —
at sf0.01 everything is fast enough that a wrong plan would still pass
result-based tests, so plan shape needs its own gate.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.queries import REGISTRY, _load

_load()


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def tree_of(plan: str) -> str:
    """Just the operator tree (first block), without the detail sections."""
    return plan.split("\n\n")[0]


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(REGISTRY["q1_pricing_summary"].builder(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "l_orderkey" not in read_schema  # unused columns pruned
    assert "l_comment" not in read_schema
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(REGISTRY["q5_local_supplier_volume"].builder(spark, sf_dir))
    assert tree_of(plan).count("BroadcastHashJoin") == 5  # all five joins
    assert "SortMergeJoin" not in plan
    # region filter pushed into its scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_address_report_single_scan_two_columns(spark, sf_dir):
    plan = plan_of(REGISTRY["takuan_address_report"].builder(spark, sf_dir))
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "user_id" in read_schema and "event_type" in read_schema
    assert "props" not in read_schema and "value" not in read_schema
    # partial aggregation before the shuffle (map-side combine)
    assert "partial_count" in plan


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = plan_of(REGISTRY["takuan_country_topk"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort materialized


def test_geo_enrich_is_broadcast_left_outer(spark, sf_dir):
    from takuan_spark.operators.enrich import geo_enrich

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("address")
    )
    geo = spark.createDataFrame(
        [("1", "US", "United States")], ["ip", "country_code", "country_name"]
    )
    plan = plan_of(geo_enrich(ev, geo))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan


def test_dedup_exact_shuffles_fingerprints_not_bodies(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_dedup_exact"].builder(spark, sf_dir))
    # the shuffle key is the md5 fingerprint, never the text column
    exchange = re.search(r"Arguments: hashpartitioning\(([^,]+)", plan)
    assert exchange and exchange.group(1).startswith("fp")
    # pre-shuffle partial aggregation exists (map-side combine)
    assert "partial_min" in plan


def test_similarity_topk_no_shuffle_before_topk(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_similarity_topk"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # scan -> project -> topk: no Exchange other than the final single
    # partition gather TakeOrdered performs internally
    assert "Exchange hashpartitioning" not in plan


def test_pipeline_rules_stay_in_one_codegen_stage(spark, config_path):
    """The parse→rules→datetime hot path must be one codegen'd stage:
    no shuffle, no Python, a single WholeStageCodegen span."""
    from takuan_spark.config import load_config
    from takuan_spark.plans.compiler import compile_sensor

    conf = load_config(config_path, year=2026)
    lines = spark.createDataFrame([("x",)], ["value"])
    plan = plan_of(
        compile_sensor(lines, conf.sensors[0], node_name="n", year=2026)
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_probe_scans_only_probed_partitions(spark, sf_dir, tmp_path):
    """The persisted IVF index must turn the cell filter into parquet
    partition pruning: the probe's scan lists only nprobe of nlist cell
    directories (checked via inputFiles, which reflects pruning), and
    the plan carries the partition filter."""
    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "ivf")
    cents = similarity.ivf_build(emb.where(F.col("vec_id") != 0), path, nlist=16)
    probes = similarity.probe_cells(qvec, cents, nprobe=4)

    probe_df = similarity.ivf_probe(spark, path, qvec, k=10, nlist=16, nprobe=4)
    plan = plan_of(probe_df)
    pf = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)\]", plan)
    assert pf, f"no static cell partition filter in plan:\n{plan[:2000]}"
    assert {int(c) for c in pf.group(1).split(",")} == set(probes)
    # and the probed set is a strict subset of the index's cells
    assert len(probes) < 16


def test_lsh_probe_scans_only_hamming_ball_buckets(spark, sf_dir, tmp_path):
    """The persisted LSH index is partitioned by (tbl, sig); a probe must
    read only the query's Hamming-ball buckets."""
    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "lsh")
    similarity.lsh_index_build(
        emb.where(F.col("vec_id") != 0), path, nbits=8, tables=4
    )
    probe_df = similarity.lsh_index_probe(
        spark, path, qvec, k=10, nbits=8, tables=4, hamming_radius=1
    )
    plan = plan_of(probe_df)
    # the (tbl, sig-prefix) Hamming-ball disjunction must land in the
    # scan's partition filters (directory pruning), with the full-sig
    # membership pushed to the scan for row-group stats pruning on the
    # sorted sig column — not a post-scan Filter over a full read
    pf = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert pf, f"no partition filters in plan:\n{plan[:2000]}"
    assert "tbl" in pf.group(1) and "sigp" in pf.group(1)
    assert re.search(r"PushedFilters: \[.*In\(sig, \[", plan), (
        "sig ball not pushed to the scan"
    )
    # spot-check: table 0's ball appears as an In(sig, [...]) list
    planes = similarity.random_hyperplanes(len(qvec), 8, seed=42)
    qsig = sum(
        (1 if sum(a * b for a, b in zip(qvec, p)) > 0 else 0) << i
        for i, p in enumerate(planes)
    )
    ball = set(similarity.hamming_ball(qsig, nbits=8, radius=1))
    in_lists = [
        {int(x) for x in m.group(1).split(",")}
        for m in re.finditer(r"In\(sig, \[([\d,]+)\]\)", plan)
    ]
    assert any(s == ball for s in in_lists), (ball, in_lists)


def test_pq_probe_reads_codes_only(spark, sf_dir, tmp_path):
    """The persisted-PQ probe must never scan raw vectors: its parquet
    scan's ReadSchema carries only (vec_id, codes), and the result
    matches the inline encode-at-query-time pq_topk exactly."""
    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.where(F.col("vec_id") != 0)
    path = str(tmp_path / "pq")
    similarity.pq_build(corpus, path, m=8, ksub=16)

    probe_df = similarity.pq_probe(spark, path, qvec, k=10, m=8, ksub=16)
    plan = plan_of(probe_df)
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "embedding" not in read_schema, read_schema
    assert "codes" in read_schema

    inline = similarity.pq_topk(corpus, qvec, k=10, m=8, ksub=16).collect()
    persisted = probe_df.collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in persisted]


def test_ivfpq_probe_prunes_cells_and_reads_codes_only(spark, sf_dir, tmp_path):
    """The composite index must show BOTH levers in one plan: a static
    cell partition filter (nprobe of nlist directories) and a ReadSchema
    without any embedding column."""
    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "ivfpq")
    similarity.ivfpq_build(emb.where(F.col("vec_id") != 0), path, nlist=16)
    probe_df = similarity.ivfpq_probe(spark, path, qvec, k=10, nlist=16, nprobe=4)
    plan = plan_of(probe_df)
    pf = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)\]", plan)
    assert pf, f"no cell partition filter:\n{plan[:2000]}"
    assert len(pf.group(1).split(",")) == 4
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "embedding" not in read_schema, read_schema
    assert "codes" in read_schema


def test_gap_fill_prunes_scan_and_single_window_sort(spark, sf_dir):
    # scan pruning is a property of the bucketed-series aggregation —
    # assert it on that subplan directly (in the full query the series
    # is materialized eagerly, so its scan no longer appears in the
    # final plan's text)
    from pyspark.sql import functions as F

    from takuan_zoo.operators import timeseries as tsops
    from takuan_spark.tables import load_table

    series = tsops.bucket_aggregate(
        load_table(spark, sf_dir, "events"),
        ts_col="ts",
        interval_secs=900,
        group_cols=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        ],
    )
    series_plan = plan_of(series)
    read_schema = re.search(r"ReadSchema: ([^\n]+)", series_plan).group(1)
    assert "ts" in read_schema and "event_type" in read_schema
    assert "props" not in read_schema and "user_id" not in read_schema

    plan = plan_of(REGISTRY["q_gap_fill_interpolate"].builder(spark, sf_dir))
    tree = tree_of(plan)
    # LOCF + the four interpolation anchors share one partitioning and
    # ordering: two adjacent Window nodes, no exchange between them
    # (the windows sit directly on one sort of the filled series)
    assert tree.count("Window") == 2
    # the bucketed series is materialized once: a cached scan (persist
    # mode) or a flat scan over the checkpointed RDD (default mode)
    assert (
        "InMemoryTableScan" in tree
        or "LogicalRDD" in tree
        or "ExistingRDD" in tree
    )


def test_bloom_prefilter_before_any_exchange(spark, sf_dir):
    plan = plan_of(REGISTRY["q_bloom_prefilter"].builder(spark, sf_dir))
    tree = tree_of(plan)
    # the membership filter must sit below the aggregate's exchange:
    # find the bloom-pass branch -> its Filter appears deeper than any
    # Exchange on the lineitem path. Cheap structural proxy: the fact
    # scan's ReadSchema is the single join column, and the pass-count
    # branch has no SortMergeJoin (one-row bloom frame broadcast only).
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    assert any(s.count(":") == 1 and "l_suppkey" in s for s in schemas)
    assert "array_contains" in plan
    assert "SortMergeJoin" not in tree.split("BroadcastNestedLoopJoin")[0]


def test_kmv_exchange_carries_sketches_not_values(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_kmv_distinct"].builder(spark, sf_dir))
    tree = tree_of(plan)
    # the partial sketch runs in one ArrowEvalPython/mapInPandas stage
    # BELOW the exchange: the shuffle moves (source, ks-array) rows,
    # not exploded token hashes
    assert "MapInPandas" in tree
    pos_map = tree.find("MapInPandas")
    pos_exchange = tree.find("Exchange")
    assert pos_exchange != -1 and pos_map != -1
    # in explain output, deeper operators appear later; the map stage
    # must be deeper (later) than the aggregate exchange it feeds
    assert pos_map > pos_exchange


def _cell_files(root: str, part: str) -> list[str]:
    import glob
    import os

    return glob.glob(os.path.join(root, part, "*.parquet"))


def test_ivf_probe_runtime_prunes_unprobed_cells(spark, sf_dir, tmp_path):
    """Partition pruning must hold at RUNTIME, not just in plan text:
    after the probe plan snapshots its file index, the files of every
    non-probed cell are deleted — a pruned scan never opens them and
    succeeds, while an unpruned scan would die on FileNotFound. A
    control deletion of a probed cell proves the test can fail."""
    import os

    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "ivf")
    cents = similarity.ivf_build(emb.where(F.col("vec_id") != 0), path, nlist=16)
    probes = set(similarity.probe_cells(qvec, cents, nprobe=4))

    probe_df = similarity.ivf_probe(spark, path, qvec, k=10, nlist=16, nprobe=4)
    for cell in set(range(16)) - probes:
        for f in _cell_files(path, f"cell={cell}"):
            os.remove(f)
    assert len(probe_df.collect()) == 10  # scan touched only probed cells

    # sensitivity control: removing a PROBED cell's files must break it
    probe_df2 = similarity.ivf_probe(spark, path, qvec, k=10, nlist=16, nprobe=4)
    victim = sorted(probes)[0]
    for f in _cell_files(path, f"cell={victim}"):
        os.remove(f)
    with pytest.raises(Exception, match="(?i)file|exist|path"):
        probe_df2.collect()


def test_lsh_probe_runtime_prunes_outside_ball(spark, sf_dir, tmp_path):
    """Same runtime gate for the LSH index: every (tbl, sigp) bucket
    directory OUTSIDE the query's Hamming-ball prefixes is deleted after
    the probe plan lists files; the probe must still run."""
    import glob
    import os
    import re as _re

    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "lsh")
    similarity.lsh_index_build(
        emb.where(F.col("vec_id") != 0), path, nbits=8, tables=4
    )
    probe_df = similarity.lsh_index_probe(
        spark, path, qvec, k=10, nbits=8, tables=4, hamming_radius=1
    )
    expected = probe_df.collect()

    # the kept (tbl, sigp) set: each table's ball signature prefixes
    keep: set[tuple[int, int]] = set()
    for tbl in range(4):
        planes = similarity.random_hyperplanes(len(qvec), 8, seed=42 + tbl)
        sig = sum(
            (1 if sum(a * b for a, b in zip(qvec, p)) > 0 else 0) << i
            for i, p in enumerate(planes)
        )
        for s in similarity.hamming_ball(sig, nbits=8, radius=1):
            keep.add((tbl, s >> (8 - similarity.LSH_PREFIX_BITS)))
    removed = 0
    for d in glob.glob(os.path.join(path, "tbl=*", "sigp=*")):
        m = _re.search(r"tbl=(\d+)/sigp=(\d+)", d)
        if (int(m.group(1)), int(m.group(2))) not in keep:
            for f in glob.glob(os.path.join(d, "*.parquet")):
                os.remove(f)
                removed += 1
    assert removed > 0  # the ball is a strict subset of the index
    probe_df2 = similarity.lsh_index_probe(
        spark, path, qvec, k=10, nbits=8, tables=4, hamming_radius=1
    )
    assert [tuple(r) for r in probe_df2.collect()] == [tuple(r) for r in expected]


def test_ivfpq_probe_runtime_prunes_unprobed_cells(spark, sf_dir, tmp_path):
    import os

    from takuan_zoo.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "ivfpq")
    similarity.ivfpq_build(emb.where(F.col("vec_id") != 0), path, nlist=16)
    probe_df = similarity.ivfpq_probe(spark, path, qvec, k=10, nlist=16, nprobe=4)
    plan = plan_of(probe_df)
    probed = {
        int(c)
        for c in re.search(
            r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)\]", plan
        ).group(1).split(",")
    }
    for cell in set(range(16)) - probed:
        for f in _cell_files(path, f"cell={cell}"):
            os.remove(f)
    assert len(probe_df.collect()) == 10


def test_bm25_filters_terms_before_any_exchange(spark, sf_dir):
    """The inverted-index selection: the query-term filter must sit
    under the (doc, term) aggregation exchange, so the shuffle carries
    the query's posting lists, never the full token stream."""
    plan = plan_of(REGISTRY["ns_bm25_search"].builder(spark, sf_dir))
    tree = tree_of(plan)
    # top-k planned as TakeOrderedAndProject, not a global sort+limit
    assert "TakeOrderedAndProject" in tree
    # the term IN (...) filter appears in a Filter node placed directly
    # above the explode (Generate), i.e. before any Exchange in that
    # branch: in the formatted tree, the first Exchange in the tf
    # branch must come AFTER (higher line index = deeper) the Filter
    # that guards Generate.
    m = re.search(r"term#\d+ IN \(", plan)
    assert m, "query-term selection filter missing from the plan"


def test_shard_assign_has_no_single_partition_stage(spark, sf_dir):
    """The training-order shard/pos must never plan a global
    row_number: no SinglePartition exchange anywhere (the final
    presentation sort is a rangepartitioning, which is fine)."""
    plan = plan_of(REGISTRY["ns_shard_assign"].builder(spark, sf_dir))
    assert "SinglePartition" not in plan
    # the window runs partitioned by shard
    assert re.search(r"windowspecdefinition\(shard#\d+", plan)


def test_substring_dedup_shuffles_hashes_not_text(spark, sf_dir):
    """The inverted-index exchange must carry the 16-hex md5 span hash,
    never shingle strings or document text."""
    plan = plan_of(REGISTRY["ns_substring_dedup"].builder(spark, sf_dir))
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "text" in read_schema  # tokenization needs it at the scan...
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^,]+)", plan)
    assert exchanges, "expected shuffles in the span-dedup plan"
    # ...but no exchange repartitions on the raw text or shingle string
    assert all(e.startswith(("h#", "doc_id#")) for e in exchanges), exchanges


def test_semdedup_groups_by_cell_blocks(spark, sf_dir):
    """Within-cell pairing: the pair-scoring exchange must include the
    cell in its partitioning key (quadratic work confined per cell)."""
    plan = plan_of(REGISTRY["ns_semdedup"].builder(spark, sf_dir))
    assert re.search(
        r"hashpartitioning\(cell#\d+, bi#\d+, bj#\d+", plan
    ), "pair scoring is not bucketed by IVF cell"


def test_phash_shuffles_band_slices_not_features(spark, sf_dir):
    """Fingerprint near-dup discovery is bucketed: candidate exchanges
    partition on (band, slice) ints — never payloads or feature
    arrays — and the exact check runs only on candidates."""
    plan = plan_of(REGISTRY["mm_phash_neardup"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the candidate join is an EQUI-join keyed on (band, slice) — as a
    # broadcast join at small SF or an exchange on those keys at scale.
    assert re.search(
        r"Left keys \[2\]: \[band#\d+, slice#\d+L?\]", plan
    ) or re.search(r"hashpartitioning\(band#\d+, slice#\d+", plan), tree_of(
        plan
    )
    # Catalyst folds the exact hamming check into the join condition:
    # candidates pay bit_count(xor) during the join, nothing after.
    assert re.search(r"Join condition: .*bit_count", plan)


def test_graph_triangles_no_cartesian_and_wedge_equi_join(spark, sf_dir):
    """The wedge enumeration must be an equi-join on the oriented src
    (the kd inequality is a post-filter), never a cartesian product;
    edge discovery self-joins on the order key."""
    plan = plan_of(REGISTRY["q_graph_triangles"].builder(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the wedge join keys on src whichever physical strategy wins
    # (exchange at scale, broadcast under warm-cache statistics);
    # key ids may carry a type suffix (src#12L).
    assert re.search(r"hashpartitioning\(src#\d+", plan) or re.search(
        r"keys \[1\]: \[src#\d+L?\]", plan
    ), "wedge join is not keyed on src"


def test_quantile_sketch_shuffles_bins_not_values(spark, sf_dir):
    """The histogram aggregation must bin BEFORE the exchange: shuffle
    keys are (group, bin), with map-side partial counts — never raw
    value rows."""
    plan = plan_of(REGISTRY["q_quantile_sketch"].builder(spark, sf_dir))
    assert "partial_count" in plan
    # Catalyst aliases the bin expression as _groupingexpression; the
    # invariant is a TWO-key exchange (group + computed bin), never a
    # shuffle of raw value rows on the group alone before binning.
    assert re.search(
        r"hashpartitioning\(o_orderpriority#\d+, (_groupingexpression|bin)#\d+",
        plan,
    ), "histogram exchange not keyed on (group, bin)"


def test_key_skew_profile_topk_is_take_ordered(spark, sf_dir):
    """The top-k share branch must plan as TakeOrderedAndProject (no
    global sort of the per-key count frame)."""
    plan = plan_of(REGISTRY["q_key_skew_profile"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan  # per-key counts map-side combine


def test_length_outliers_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_length_outliers"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # the scalar median/MAD frames come back as broadcast joins
    assert "BroadcastNestedLoopJoin" in plan


def test_cdc_latest_single_aggregate_no_window(spark, sf_dir):
    # last-writer-wins must be the max-struct hash aggregate, not a
    # rank window (the window form cannot map-side combine)
    plan = plan_of(REGISTRY["q_cdc_latest"].builder(spark, sf_dir))
    tree = tree_of(plan)
    assert "Window" not in tree
    assert "partial_max" in plan and "partial_count" in plan
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "props" not in read_schema  # unused column pruned


def test_cdc_merge_single_exchange_for_windows(spark, sf_dir):
    # rank window + tombstone max + final agg all ride ONE exchange on
    # the user key (plus the final sort's range exchange)
    plan = plan_of(REGISTRY["q_cdc_merge"].builder(spark, sf_dir))
    tree = tree_of(plan)
    hash_exchanges = len(re.findall(r"Exchange hashpartitioning", tree))
    assert hash_exchanges <= 2, tree


def test_class_rebalance_broadcasts_factors(spark, sf_dir):
    # replication factors join by broadcast; the explode is row-local
    plan = plan_of(REGISTRY["ns_class_rebalance"].builder(spark, sf_dir))
    tree = tree_of(plan)
    assert "BroadcastHashJoin" in tree
    assert "Generate explode" in tree or "Generate" in tree


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    # every corpus-sized join in the k-means plan is a broadcast of the
    # k-row centroid frame; the corpus itself is never on the build side
    plan = plan_of(REGISTRY["ns_kmeans_assign"].builder(spark, sf_dir))
    tree = tree_of(plan)
    assert "BroadcastNestedLoopJoin" in tree  # corpus x tiny centroids
    assert "CartesianProduct" not in tree
    assert "partial_min" in plan  # argmin via map-side-combined min


def test_bloom_prod_membership_before_exchange(spark, sf_dir):
    # production bitmap probe must be a literal Filter directly on the
    # lineitem scan — BELOW the semi join's exchange, where Catalyst
    # cannot reorder it (the crossJoin form was observed reordered
    # ABOVE the join it protects). In the formatted tree the lineitem
    # branch must read Scan -> Filter(shiftrightunsigned bitmap probe)
    # -> Exchange, with no join between scan and probe.
    plan = plan_of(REGISTRY["q_bloom_prefilter_prod"].builder(spark, sf_dir))
    assert "getbit" in plan  # the bitmap probe expression exists
    tree = tree_of(plan)
    # the bloom must NOT arrive via a cross/nested-loop join anymore
    assert "BroadcastNestedLoopJoin" not in tree
    assert "xxhash64" in plan  # production family, not md5


def test_stream_report_fold_reads_partials_not_events(spark, sf_dir, tmp_path):
    # four deterministic epochs of the events table through report_sink;
    # the fold reads the epoch-partitioned partial table, so its plan
    # must scan parquet partials and aggregate — never re-scan the
    # events table
    from takuan_spark.streaming.report_stream import merged_report, report_sink

    table = str(tmp_path / "report")
    ev = load_table(spark, sf_dir, "events")
    sink = report_sink(table)
    for e in range(4):
        batch = ev.where(F.pmod(F.col("event_id"), F.lit(4)) == e)
        sink(
            batch.select(
                F.col("user_id").alias("address"),
                F.lit("ev").alias("sensor"),
                F.col("event_type").alias("rule"),
                F.lit(None).cast("string").alias("country_code"),
                F.lit(None).cast("string").alias("country_name"),
            ),
            e,
        )
    plan = plan_of(merged_report(spark, table))
    assert "events.parquet" not in plan
    assert "partial_sum" in plan


def test_compaction_bins_single_exchange_no_global_sort(spark, sf_dir):
    # the planner's window partitions by the table partition key — ONE
    # hash exchange (plus the presentation sort's range exchange), and
    # never a SinglePartition window that would serialize a 100 M-file
    # manifest through one task
    plan = plan_of(REGISTRY["q_compaction_bins"].builder(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    kinds = re.findall(r"Arguments: (hashpartitioning|rangepartitioning)", plan)
    assert kinds.count("hashpartitioning") == 1, kinds


def test_zonemap_estimator_is_metadata_sized_aggregates(spark, sf_dir):
    # both layout estimates are hash aggregates over (file, min, max) —
    # no join, no window, no cartesian anywhere in the plan
    plan = plan_of(REGISTRY["q_zonemap_prune_compare"].builder(spark, sf_dir))
    tree = tree_of(plan)
    assert "Join" not in tree, tree
    assert "Window" not in tree, tree
    assert "partial_min" in plan and "partial_max" in plan


def test_leakage_split_broadcasts_audit_row(spark, sf_dir):
    # the one-row leak audit joins the per-split aggregate by broadcast;
    # fingerprints shuffle as md5 strings, never document text
    plan = plan_of(REGISTRY["ns_leakage_safe_split"].builder(spark, sf_dir))
    tree = tree_of(plan)
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_vocab_oov_topv_is_take_ordered_and_broadcast(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_vocab_oov"].builder(spark, sf_dir))
    # the top-V vocabulary must be a bounded heap, never a global sort
    # of the token-count frame, and the vocab side of the OOV flag
    # must broadcast (500 rows) rather than shuffle the token stream
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_matryoshka_qc_no_join_no_window(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_matryoshka_qc"].builder(spark, sf_dir))
    # truncation QC is a per-row fold + one label-keyed aggregate:
    # any join or window in this plan means pairwise math crept in
    assert "Join" not in plan and "Window" not in plan
    assert "partial_count" in plan or "partial_avg" in plan


def test_dedup_sweep_no_nested_loop_join(spark, sf_dir):
    """The threshold sweep must be binned suffix sums, never a
    per-threshold non-equi join against corpus-scale pairs (a
    BroadcastNestedLoopJoin here would be quadratic-ish at scale)."""
    plan = plan_of(REGISTRY["ns_dedup_sweep"].builder(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_ks_drift_grid_join_is_broadcast(spark, sf_dir):
    """The per-group evaluation grid (groups x distinct values) must
    build via broadcast — never a shuffle of the corpus against the
    grid — and the corpus itself is touched by aggregations only."""
    plan = plan_of(REGISTRY["ns_ks_drift"].builder(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_filter_funnel_is_single_aggregation(spark, sf_dir):
    """The funnel is ONE pass: no per-stage jobs means no union of
    scans — exactly one scan of the documents table in the plan."""
    plan = plan_of(REGISTRY["ns_filter_funnel"].builder(spark, sf_dir))
    assert tree_of(plan).count("Scan parquet") == 1


def test_int8_quant_error_is_scan_plus_take_ordered(spark, sf_dir):
    """Worst-k selection must be TakeOrderedAndProject over a single
    scan — no global sort, no shuffle of the full corpus."""
    plan = plan_of(REGISTRY["ns_int8_quant_error"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    tree = tree_of(plan)
    assert "Exchange" not in tree.replace("BroadcastExchange", "")


def test_quantile_normalize_value_grid_is_broadcast(spark, sf_dir):
    """The pooled-value range lookup must join against the broadcast
    DISTINCT-value grid; the corpus-side window partitions by group
    (parallel), never a global single-partition ordering."""
    plan = plan_of(REGISTRY["ns_quantile_normalize"].builder(spark, sf_dir))
    assert "BroadcastExchange" in plan
    # the only SinglePartition allowed is the tiny value-grid cumsum
    tree = tree_of(plan)
    win_parts = re.findall(r"Exchange SinglePartition[^\n]*", tree)
    assert len(win_parts) <= 1


def test_manifest_hash_partial_aggregation(spark, sf_dir):
    """The commutative hash reduction must map-side combine (partial
    aggregate before the exchange) — that is what makes the stamp
    computable in one pass over any partitioning."""
    plan = plan_of(REGISTRY["ns_manifest_hash"].builder(spark, sf_dir))
    assert "partial" in plan.lower()
    assert tree_of(plan).count("Scan parquet") == 1


def test_token_dropout_no_wide_shuffle(spark, sf_dir):
    """Augmentation is per-row array math: no hash/range exchange and
    no sort anywhere — the only allowed exchange is the deliberate
    round-robin spread that breaks the row-group parallelism cap (12
    row groups would otherwise idle 20 of 32 cores under the
    per-token md5 sweep)."""
    plan = plan_of(
        REGISTRY["ns_text_augment"].builder(spark, sf_dir)
    )
    assert "Sort" not in tree_of(plan)
    parts = re.findall(r"Arguments: (\w+Partitioning)", plan)
    assert parts and set(parts) == {"RoundRobinPartitioning"}, parts


def test_gopher_rules_flags_have_no_shuffle(spark, sf_dir):
    from takuan_zoo.operators.curation import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(gopher_rules(docs, stopwords=["the", "a"]))
    # five codegen rules + one Arrow pass: a pure projection — the
    # per-doc flags must not shuffle anything
    assert "Exchange" not in tree_of(plan)
    # and the battery report itself adds exactly the one 8-row agg
    qplan = plan_of(REGISTRY["ns_gopher_rules"].builder(spark, sf_dir))
    assert tree_of(qplan).count("Exchange") == 1


def test_sft_mask_stats_single_exchange_and_pruned_scan(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_sft_mask_stats"].builder(spark, sf_dir))
    # closed-form arithmetic -> one groupBy(source) agg exchange plus
    # only the final orderBy's range exchange
    assert tree_of(plan).count("Exchange") == 2
    assert plan.count("rangepartitioning") == 1
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "text" in read_schema and "lang" not in read_schema
    assert "partial_sum" in plan  # map-side combine


def test_pack_efficiency_single_combiner_exchange(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_pack_efficiency"].builder(spark, sf_dir))
    # explode(4 lengths) then ONE (lang, L)-keyed agg with map-side
    # combine; the only other exchange is the final orderBy's
    assert tree_of(plan).count("Exchange") == 2
    assert plan.count("rangepartitioning") == 1
    assert "partial_sum" in plan


def test_link_prediction_wedge_join_not_cartesian(spark, sf_dir):
    from takuan_zoo.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    edges = graph.cooccurrence_edges(
        li, group_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    plan = plan_of(graph.link_prediction(edges))
    t = tree_of(plan)
    # wedges come from an equi-join on the shared center, candidates
    # are anti-joined against edges, and top-k never global-sorts
    assert "CartesianProduct" not in t and "BroadcastNestedLoopJoin" not in t
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in t


def test_moments_fold_reader_is_one_aggregation(spark, sf_dir, tmp_path):
    from takuan_zoo.streaming.moments_stream import merged_moments, moments_sink

    orders = load_table(spark, sf_dir, "orders")
    table = str(tmp_path / "moments")
    sink = moments_sink(
        table, group_cols=["o_orderpriority"], value_col="o_totalprice"
    )
    sink(orders, 0)
    plan = plan_of(
        merged_moments(spark, table, group_cols=["o_orderpriority"])
    )
    # the fold reads (group x epoch) partials and does ONE agg exchange
    assert tree_of(plan).count("Exchange") == 1
    assert "partial_sum" in plan


def test_bitext_mining_within_cell_join_not_cartesian(spark, sf_dir):
    plan = plan_of(REGISTRY["ns_bitext_mining"].builder(spark, sf_dir))
    t = tree_of(plan)
    # candidates meet ONLY through the cell equi-join; the top-n never
    # global-sorts
    assert "CartesianProduct" not in t
    assert "BroadcastNestedLoopJoin" not in t
    assert "TakeOrderedAndProject" in t


def test_native_sketch_parity_has_no_expand(spark, sf_dir):
    # COUNT(DISTINCT) mixed with the exact percentile plans an Expand
    # that triples every row through percentile's all-values buffer
    # (measured 10.9 s vs 1.5 s at sf0.1) — the split-agg form must
    # keep Expand out of the plan entirely
    plan = plan_of(REGISTRY["q_native_sketch_parity"].builder(spark, sf_dir))
    assert "Expand" not in tree_of(plan)


def test_variant_extract_prunes_scan_and_stays_codegen(spark, sf_dir):
    """q_variant_extract: the VARIANT parse/extract chain must not stop
    column pruning (only event_type + props read) and must plan as
    partial+final aggregation with no Python stage."""
    plan = plan_of(REGISTRY["q_variant_extract"].builder(spark, sf_dir))
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "props" in read_schema and "event_type" in read_schema
    assert "user_id" not in read_schema and "value" not in read_schema
    assert "partial_" in plan
    assert "EvalPython" not in plan


def test_sql_pipe_syntax_plans_like_classic_form(spark, sf_dir):
    """q_sql_pipe_syntax: the |> pipeline must plan exactly like the
    classic formulation — shipdate filter pushed to the scan, pruned
    ReadSchema, partial+final aggregate, no extra exchange."""
    plan = plan_of(REGISTRY["q_sql_pipe_syntax"].builder(spark, sf_dir))
    assert "LessThanOrEqual(l_shipdate" in plan
    read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema
    assert "partial_" in plan
    # one shuffle for the aggregation + one for the final sort, no more
    assert tree_of(plan).count("Exchange") <= 2


def test_recursive_cte_joins_materialized_edges(spark, sf_dir):
    """q_recursive_cte: the recursion must consume the MATERIALIZED
    edge set (InMemoryTableScan), not re-derive the 4-way fact join
    per level — the re-evaluation trap documented in PLANS.md."""
    from takuan_zoo.operators.skew import release_materialized

    df = REGISTRY["q_recursive_cte"].builder(spark, sf_dir)
    try:
        plan = plan_of(df)
        # materialized = a cached scan (persist mode) or a flat scan
        # over the checkpointed RDD (default checkpoint mode) — either
        # way the fact join must NOT appear once per recursion level.
        assert (
            "InMemoryTableScan" in plan
            or "InMemoryRelation" in plan
            or "LogicalRDD" in plan
            or "ExistingRDD" in plan
        )
        # the recursion's working side must never plan a cartesian
        assert "CartesianProduct" not in plan
    finally:
        release_materialized()


def test_log_pipeline_e2e_single_scan_all_broadcast(spark, sf_dir):
    """q_log_pipeline_e2e composes six operator stages into ONE plan;
    the scale properties that composition must keep: the events fact is
    scanned exactly once (the seen_col report extension rides the
    report's own aggregation instead of a second scan + self-join), the
    scan reads only the 4 render-needed columns (props/value pruned),
    every join is broadcast (geo dim and nation are dim-sized), and the
    report's inner aggregation is map-side combined."""
    plan = plan_of(REGISTRY["q_log_pipeline_e2e"].builder(spark, sf_dir))
    tree = tree_of(plan)
    locations = re.findall(r"Location: [^\n]*", plan)
    n_events_scans = sum(1 for loc in locations if "events" in loc)
    assert n_events_scans == 1, f"events scanned {n_events_scans}x"
    # the events read schema keeps only what the render consumes
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    ev_schema = next(s for s in schemas if "event_type" in s)
    assert "props" not in ev_schema and "value" not in ev_schema
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
    assert tree.count("BroadcastHashJoin") >= 2  # cust⋈nation, events⋈geo
    assert "partial_count" in plan  # report inner agg map-side combined
