"""Late-round-6 query semantics: incremental MV maintenance, sketch-
driven range-partition balance, and parquet schema evolution under
mergeSchema. The oracle gate (tests/test_oracle.py) value-checks all
three against DuckDB; these tests pin the CLAIMS the oracle cannot see
— the incremental path really merges partials, the partition audit
really covers/balances the table, the evolved read really null-fills.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.queries import REGISTRY, _load

_load()


def test_mv_incremental_equals_full_recompute(spark, sf_dir):
    mv = REGISTRY["q_mv_incremental"].builder(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    full = (
        orders.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("int")
            .alias("ym"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("total_cents"),
        )
        .orderBy("ym", "o_orderstatus")
    )
    assert mv.collect() == full.collect()


def test_mv_incremental_both_sides_populated(spark, sf_dir):
    # the split date must actually cut the data in two, or the
    # "incremental" path degenerates to a full recompute
    orders = load_table(spark, sf_dir, "orders")
    from takuan_zoo.queries.maintenance import _MV_SPLIT

    n_old = orders.where(F.col("o_orderdate") < _MV_SPLIT).count()
    n_new = orders.where(F.col("o_orderdate") >= _MV_SPLIT).count()
    assert n_old > 0 and n_new > 0


def test_range_partition_balance_covers_and_balances(spark, sf_dir):
    rows = REGISTRY["q_range_partition_balance"].builder(
        spark, sf_dir
    ).collect()
    orders = load_table(spark, sf_dir, "orders")
    total = orders.where(F.col("o_totalprice").isNotNull()).count()
    # every partition id present, nothing dropped or double-counted
    assert [r["pid"] for r in rows] == list(range(8))
    assert sum(r["n_rows"] for r in rows) == total
    # ranges tile the value line: each partition's max < next's min
    for a, b in zip(rows, rows[1:]):
        assert a["hi_cents"] < b["lo_cents"]
    # the sketch boundaries should land within 2x of perfect eighths
    # even at smoke scale (the audit's whole point is detecting skew)
    assert max(r["share_ppm"] for r in rows) < 250_000


def test_schema_evolution_null_fills_pre_evolution_batch(spark, sf_dir):
    rows = REGISTRY["q_schema_evolution"].builder(spark, sf_dir).collect()
    assert rows, "rollup returned no rows"
    for r in rows:
        if r["batch"] == 1:
            # v1 files have no source/quality columns: mergeSchema
            # must surface them as NULL, never as garbage
            assert r["n_source"] == 0 and r["n_quality"] == 0
            assert r["sum_quality"] == 0
        else:
            assert r["batch"] == 2
            assert r["n_source"] == r["n_docs"]
            assert r["n_quality"] == r["n_docs"]
