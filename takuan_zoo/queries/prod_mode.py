"""Production hash-family queries — the xxhash64 fast path.

The oracle-gate queries (q_bloom_prefilter, ns_minhash_lsh_neardup)
deliberately pay an md5-per-row portability tax so DuckDB can reproduce
their hashes bit-for-bit. A production deployment swaps the bucket
family to Spark-native ``xxhash64`` behind the same interface
(``operators/bloom.py``, ``operators/dedup.py:minhash_signatures``) —
no string digests, everything stays inside whole-stage codegen. These
queries ARE that swap, registered so the bench measures the production
cost and (where possible) the driver still verifies exactness:

- ``q_bloom_prefilter_prod`` keeps a FULL oracle despite the
  non-portable hash: the bloom pre-filter is followed by the real join,
  and a Bloom filter never false-negatives, so the post-join aggregate
  is exact under ANY family — the oracle checks the join answer, not
  the filter's (family-specific) false-positive set.
- ``ns_minhash_prod_mode`` registers the FAMILY-PARITY CLAIM itself as
  the query: a full outer join of the md5-mode and xxhash64-mode pair
  sets, with the oracle computing only the SQL-expressible md5 side
  and asserting ``in_xx = 1`` everywhere — a driver-hash-checkable
  statement about the non-portable family. tests/test_northstar.py
  additionally asserts pair parity on a corpus with planted near-dups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import bloom, dedup
from takuan_zoo.queries import query

_MBITS = 1024
_K = 3


@query(
    "q_bloom_prefilter_prod",
    """
    WITH eu AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
    """,
    "Bloom runtime pre-filter, PRODUCTION family (xxhash64, no md5 "
    "string digests — the bucket probe is a pure integer codegen "
    "expression): filter lineitem before the shuffle, then the REAL "
    "semi-join. Oracle-exact because blooms never false-negative: the "
    "post-join aggregate equals the unfiltered semi-join under any "
    "family; only wasted shuffle rows (false positives) differ. "
    "Benchmarks the md5-vs-xxhash64 cost delta against "
    "q_bloom_prefilter.",
)
def q_bloom_prefilter_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
    )
    bl = bloom.bloom_build(
        eu, key_col="s_suppkey", mbits=_MBITS, k=_K, family="xxhash64"
    )
    # bitmap form, not the crossJoin form: a literal predicate cannot
    # be join-reordered above the semi join it protects (the crossJoin
    # probe WAS — Catalyst moved it past the lineitem shuffle), and the
    # probe is O(1) per hash instead of an array scan
    passed = bloom.bloom_bitmap_prefilter(
        li.select("l_suppkey", "l_extendedprice"),
        bl,
        key_col="l_suppkey",
        mbits=_MBITS,
        k=_K,
        family="xxhash64",
    )
    return (
        passed.join(eu, passed.l_suppkey == eu.s_suppkey, "left_semi")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


def _minhash_prod_oracle() -> str:
    from takuan_zoo.queries.northstar import _minhash_pairs_cte

    return f"""
    WITH {_minhash_pairs_cte(threshold=0.7)}
    SELECT id_a, id_b, 1 AS in_md5, 1 AS in_xx
    FROM mh_pairs
    ORDER BY id_a, id_b
    """


@query(
    "ns_minhash_prod_mode",
    _minhash_prod_oracle(),
    "MinHash(64) + LSH(16 bands) near-dup PAIR-SET PARITY between the "
    "md5 oracle family and the PRODUCTION family (Spark-native "
    "xxhash64 base shingle hash — no string digest per shingle, the "
    "signature pipeline never leaves whole-stage codegen). The query "
    "full-outer-joins the two families' pair sets and returns "
    "(id_a, id_b, in_md5, in_xx); the oracle computes only the "
    "md5 side (xxhash64 is not SQL-expressible in DuckDB) and claims "
    "in_xx = 1 for every md5 pair with no xx-only rows — so a "
    "production-family recall regression (missed pair -> in_xx = 0) "
    "or precision drift (extra pair -> extra row) FAILS the driver "
    "hash check instead of hiding behind a rows-only row.",
)
def ns_minhash_prod_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.queries.northstar import _minhash_qc_tables

    docs = load_table(spark, sf_dir, "documents")
    # md5 side from the shared persisted QC artifact (signatures built
    # once per corpus snapshot, banding from the persisted frame); the
    # xxhash64 side is computed fresh — it IS the production cost under
    # measurement.
    _, sigs = _minhash_qc_tables(spark, sf_dir)
    md5 = dedup.minhash_band_pairs(
        sigs, num_hashes=64, bands=16, threshold=0.7
    ).select("id_a", "id_b", F.lit(1).alias("in_md5"))
    xx = dedup.minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.7, family="xxhash64"
    ).select("id_a", "id_b", F.lit(1).alias("in_xx"))
    return (
        md5.join(xx, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            F.coalesce("in_md5", F.lit(0)).alias("in_md5"),
            F.coalesce("in_xx", F.lit(0)).alias("in_xx"),
        )
        .orderBy("id_a", "id_b")
    )
