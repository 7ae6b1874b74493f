"""Bloom-prefilter query: the runtime-filter join optimization with an
oracle that reproduces the exact pass set, false positives included."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import bloom
from takuan_zoo.queries import query

_MBITS = 1024
_K = 3

_BUCKETS_EU = ", ".join(
    bloom.sql_bloom_bucket("s_suppkey", j, _MBITS) for j in range(_K)
)
_FACT_PRED = " AND ".join(
    f"list_contains(bl.bloom, {bloom.sql_bloom_bucket('l_suppkey', j, _MBITS)})"
    for j in range(_K)
)


@query(
    "q_bloom_prefilter",
    f"""
    WITH eu AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    occupied AS (
        SELECT DISTINCT b
        FROM eu, UNNEST([{_BUCKETS_EU}]) AS u(b)
    ),
    bl AS (SELECT list_sort(list(b)) AS bloom FROM occupied),
    pass AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_pass
        FROM lineitem, bl
        WHERE {_FACT_PRED}
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
    )
    SELECT n_bloom_pass, n_exact,
           n_bloom_pass - n_exact AS n_false_pos
    FROM pass, exact
    """,
    "Bloom-filter runtime pre-filter (1024 bits, 3 hashes) for the "
    "lineitem-to-EUROPE-suppliers join: the dim keys reduce to a "
    "broadcast bucket set and the fact side drops non-members with "
    "codegen'd array lookups BEFORE any shuffle — the standard big-join "
    "runtime-filter pattern, except the md5 bucket family makes the "
    "pass set (false positives included) bit-reproducible by the "
    "oracle. Output: bloom-pass count vs exact semi-join count and the "
    "false-positive surplus.",
)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
    )
    bl = bloom.bloom_build(eu, key_col="s_suppkey", mbits=_MBITS, k=_K)
    passed = bloom.bloom_prefilter(
        li.select("l_suppkey"), bl, key_col="l_suppkey", mbits=_MBITS, k=_K
    ).agg(F.count("*").alias("n_bloom_pass"))
    # the supplier subset scales with SF: AQE decides (the bloom
    # frame above is one row and IS hinted — that bound is the point).
    exact = (
        li.select("l_suppkey")
        .join(eu, li.l_suppkey == eu.s_suppkey, "left_semi")
        .agg(F.count("*").alias("n_exact"))
    )
    return passed.crossJoin(exact).select(
        "n_bloom_pass",
        "n_exact",
        (F.col("n_bloom_pass") - F.col("n_exact")).alias("n_false_pos"),
    )


_BLOOM_FOLD_SQL = f"""
    WITH eu AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    occupied AS (
        SELECT DISTINCT b
        FROM eu, UNNEST([{_BUCKETS_EU}]) AS u(b)
    ),
    bl AS (SELECT list_sort(list(b)) AS bloom FROM occupied),
    pass AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_pass
        FROM lineitem, bl
        WHERE {_FACT_PRED}
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
    )
    SELECT n_bloom_pass, n_exact,
           n_bloom_pass - n_exact AS n_false_pos
    FROM pass, exact
"""


@query(
    "q_stream_bloom_fold",
    # the batch prefilter's oracle verbatim: the epoch split of the dim
    # keys is invisible to the folded bucket union (OR-merge algebra)
    _BLOOM_FOLD_SQL,
    "Streaming Bloom-filter maintainer, driver-checked: the EUROPE "
    "supplier keys arrive in 4 epochs through the REAL "
    "bloom_bucket_sink (distinct occupied buckets per epoch, <= mbits "
    "rows each, dynamic partition overwrite) and the REAL merged_bloom "
    "fold rebuilds the filter by distinct-union — green proves the "
    "OR-merge algebra: the maintained filter passes the IDENTICAL "
    "fact-row set (false positives included) as the batch-built "
    "filter, so a runtime-filtered join can keep its dim filter fresh "
    "per batch without ever rebuilding from key history.",
)
def q_stream_bloom_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from takuan_zoo.streaming.bloom_stream import bloom_bucket_sink, merged_bloom

    from takuan_zoo.scratch import scratch_path

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    table = scratch_path(f"takuan_bloom_fold_{tag}")
    shutil.rmtree(table, ignore_errors=True)

    from takuan_zoo.operators.skew import snapshot

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    # snapshot: the EUROPE key set feeds all four epoch sink jobs plus
    # the exact-count semi-join — five separate driver actions that
    # would each re-run the 3-way dim join.
    eu = snapshot(
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
    )
    sink = bloom_bucket_sink(
        table, key_col="s_suppkey", mbits=_MBITS, k=_K
    )
    for e in range(4):
        sink(eu.where(F.pmod(F.col("s_suppkey"), F.lit(4)) == e), e)
    bl = merged_bloom(spark, table)
    passed = bloom.bloom_prefilter(
        li.select("l_suppkey"), bl, key_col="l_suppkey", mbits=_MBITS, k=_K
    ).agg(F.count("*").alias("n_bloom_pass"))
    exact = (
        li.select("l_suppkey")
        .join(eu, li.l_suppkey == eu.s_suppkey, "left_semi")
        .agg(F.count("*").alias("n_exact"))
    )
    return passed.crossJoin(exact).select(
        "n_bloom_pass",
        "n_exact",
        (F.col("n_bloom_pass") - F.col("n_exact")).alias("n_false_pos"),
    )
