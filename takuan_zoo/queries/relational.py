"""General relational surface over the star-schema testdata.

The reference only ever needs lookup joins + two-level count aggregation
(SURVEY.md §2.1), but a user of a query engine gets the whole relational
algebra from Spark for free — these queries pin down that surface
(equi/semi/anti joins, partial+final aggregation, windows, rollup, set
ops, sorts/top-k, scalar string/date/math functions) against a DuckDB
oracle so the "free" operators are *proven*, not assumed.

Scale notes baked into the plans:
- explicit ``F.broadcast`` hints go only on the always-tiny dims
  (region, nation) — at 100 TB the fact side never shuffles for those.
  Mid-size tables (customer, supplier, filtered orders) are left to the
  autoBroadcast threshold + AQE: broadcast at bench scale, shuffle join
  at cluster scale, without touching the plan;
- aggregates go through partial (map-side) aggregation automatically —
  group keys are always low-cardinality relative to fact rows;
- top-k is always ``orderBy().limit()`` → TakeOrderedAndProject, never a
  global sort.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.queries import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                       AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                  AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                       AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                  AS avg_price,
           ROUND(AVG(l_discount), 4)                                       AS avg_disc,
           COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: filtered scan + multi-aggregate hash aggregation "
    "(partial+final). Exercises O18/O19 generalization.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: selective dim filter -> 3-way join -> agg -> top-k.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    "TPC-H Q5 shape: 6-way star join with a non-join-key equality "
    "(c_nationkey = s_nationkey) + agg. Exercises join reordering.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q_top_customers",
    """
    SELECT c_custkey, c_name,
           ROUND(SUM(o_totalprice), 2) AS total_spend,
           COUNT(*) AS n_orders
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spend DESC, c_custkey
    LIMIT 10
    """,
    "Join + agg + top-k (O20/O26 generalization).",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


@query(
    "q_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "Explicit GROUPING SETS (two single-dimension sets + grand total) — "
    "the general form under rollup/cube, exposed per SURVEY.md §2.1.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gs")
    return li.sparkSession.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


@query(
    "q_window_lag_lead",
    """
    SELECT user_id,
           CAST(strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS VARCHAR) AS ts_s,
           ROUND(value, 2) AS v,
           ROUND(lag(value)  OVER w, 2) AS prev_v,
           ROUND(lead(value) OVER w, 2) AS next_v,
           ROUND(SUM(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_v
    FROM events
    WHERE user_id < 5 AND event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, ts_s
    """,
    "Offset + frame window functions: lag/lead and a running sum per "
    "user over event time — the sequential-analytics surface.",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        (F.col("user_id") < 5) & (F.col("event_type") == "purchase")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.round("value", 2).alias("v"),
        F.round(F.lag("value").over(w), 2).alias("prev_v"),
        F.round(F.lead("value").over(w), 2).alias("next_v"),
        F.round(F.sum("value").over(frame), 2).alias("running_v"),
    ).orderBy("user_id", "ts_s")


@query(
    "q_window_rank",
    """
    SELECT * FROM (
        SELECT c_nationkey, c_custkey, c_name,
               ROUND(c_acctbal, 2) AS acctbal,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rnk
        FROM customer
    ) WHERE rnk <= 3
    ORDER BY c_nationkey, rnk
    """,
    "Window function: per-group ranking (row_number over partitioned "
    "window) — the windowed analog of the reference's global sort O20.",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
        .orderBy("c_nationkey", "rnk")
    )


@query(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "Hierarchical aggregation: GROUP BY ROLLUP (subtotals + grand "
    "total). Absent in the reference; exposed per SURVEY.md §2.1.",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    ORDER BY revenue
    """,
    "TPC-H Q6 shape: pure scan-filter-aggregate — the canonical "
    "predicate-pushdown/codegen benchmark point (all three filters reach "
    "the parquet reader; no shuffle beyond the final partial-agg merge).",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy("revenue")
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "TPC-H Q4 shape: EXISTS semi-join (orders with at least one line "
    "shipped after the order date) + priority counts. The semi-join "
    "never materializes lineitem payload columns.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue per customer, 4-way join "
    "(two fact joins + broadcast nation dim), top-20 by revenue.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(rev, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    ORDER BY promo_pct
    """,
    "TPC-H Q14 shape: promo revenue share — conditional aggregate ratio "
    "over a fact-dim join with a tight date window (partition-prunable "
    "at scale).",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.round(100.0 * promo / F.sum(rev), 4).alias("promo_pct"))
        .orderBy("promo_pct")
    )


@query(
    "q19_disjunctive_filter",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    ORDER BY revenue
    """,
    "TPC-H Q19 shape: disjunctive multi-attribute predicate across both "
    "join sides — exercises CNF conversion / partial pushdown of OR "
    "branches to each scan.",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    def branch(brand, smin, smax, qmin, qmax):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(smin, smax)
            & F.col("l_quantity").between(qmin, qmax)
        )
    cond = (
        branch("Brand#1", 1, 15, 1, 20)
        | branch("Brand#13", 10, 30, 10, 40)
        | branch("Brand#20", 20, 50, 20, 50)
    )
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        joined.where(cond)
        .agg(F.round(rev, 2).alias("revenue"), F.count("*").alias("n_lines"))
        .orderBy("revenue")
    )


@query(
    "q_cube",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           ROUND(AVG(l_discount), 4) AS avg_disc
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "Cross-dimensional aggregation: GROUP BY CUBE (all grouping-set "
    "combinations). Absent in the reference; exposed per SURVEY.md §2.1.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "q_pandas_udaf",
    """
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice * o_shippriority_w) /
                 SUM(o_shippriority_w), 4) AS wavg_price
    FROM (SELECT o_orderpriority, o_totalprice,
                 CAST(o_orderkey % 7 + 1 AS DOUBLE) AS o_shippriority_w
          FROM orders)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "User-defined aggregate via a grouped-agg pandas UDF (Arrow batch "
    "per group): weighted mean order price. The UDAF surface of the "
    "engine — oracle-checked against the algebraic SQL form.",
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def wavg(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_shippriority_w", (F.col("o_orderkey") % 7 + 1).cast("double")
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(wavg("o_totalprice", "o_shippriority_w"), 4).alias(
                "wavg_price"
            )
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_anti_join",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    "Anti join: customers with no orders — the general form of the "
    "reference's unreported-events anti-semantics (O16).",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q_semi_join",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_suppkey = s_suppkey AND l_quantity > 45
    )
    ORDER BY s_suppkey
    """,
    "Semi join: suppliers with at least one large-quantity lineitem.",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q_set_ops",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
    "Set operation: INTERSECT of customer and supplier nations "
    "(union O30's siblings; union itself backs the multi-sensor plan).",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp).orderBy("nationkey")


@query(
    "q_union_distinct",
    """
    SELECT DISTINCT nationkey, src FROM (
        SELECT c_nationkey AS nationkey, 'cust' AS src FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supp' AS src FROM supplier
    )
    ORDER BY nationkey, src
    """,
    "Multi-source union + distinct (O30 + dedup-by-key).",
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("cust").alias("src")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supp").alias("src")
    )
    return cust.unionByName(supp).distinct().orderBy("nationkey", "src")


@query(
    "q_string_functions",
    """
    SELECT p_partkey,
           upper(p_brand)                       AS brand_u,
           substr(p_type, 1, 5)                 AS type_prefix,
           concat(p_brand, '/', p_type)         AS brand_type,
           CAST(length(p_name) AS INT)          AS name_len,
           replace(p_name, ' ', '_')            AS name_snake
    FROM part
    WHERE p_name LIKE '%e%' AND contains(p_type, 'A')
    ORDER BY p_partkey
    """,
    "Scalar string functions: upper/substr/concat/length/replace/LIKE "
    "(SURVEY.md §2.1 string functions; O23/O27 building blocks).",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.where(F.col("p_name").like("%e%") & F.col("p_type").contains("A"))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            F.substring("p_type", 1, 5).alias("type_prefix"),
            F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
            F.length("p_name").alias("name_len"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q_date_functions",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(year  FROM o_orderdate) AS INT)  AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT)  AS mo,
           CAST(EXTRACT(day   FROM o_orderdate) AS INT)  AS dy,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since_epoch_start
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1996
    ORDER BY o_orderkey
    """,
    "Scalar date functions: extract/date arithmetic/format (O7/O8 "
    "building blocks generalized).",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.where(F.year("o_orderdate") == 1996)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dy"),
            F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias(
                "due_date"
            ),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
            ).alias("days_since_epoch_start"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_math_functions",
    """
    SELECT s_suppkey,
           ROUND(abs(s_acctbal), 2)        AS abs_bal,
           CAST(ceil(s_acctbal) AS BIGINT) AS ceil_bal,
           CAST(floor(s_acctbal) AS BIGINT) AS floor_bal,
           ROUND(sqrt(abs(s_acctbal)), 4)  AS sqrt_bal,
           ROUND(ln(abs(s_acctbal) + 1), 4) AS ln_bal,
           CAST(s_suppkey % 7 AS BIGINT)   AS bucket
    FROM supplier
    ORDER BY s_suppkey
    """,
    "Scalar math functions: abs/ceil/floor/sqrt/ln/mod.",
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    absbal = F.abs(F.col("s_acctbal"))
    return supp.select(
        "s_suppkey",
        F.round(absbal, 2).alias("abs_bal"),
        F.ceil("s_acctbal").alias("ceil_bal"),
        F.floor("s_acctbal").alias("floor_bal"),
        F.round(F.sqrt(absbal), 4).alias("sqrt_bal"),
        F.round(F.log(absbal + 1), 4).alias("ln_bal"),
        (F.col("s_suppkey") % 7).alias("bucket"),
    ).orderBy("s_suppkey")


@query(
    "q_distinct_count",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(AVG(value), 4)    AS avg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "Distinct aggregation: COUNT(DISTINCT) per group (expand+two-phase "
    "agg in Spark).",
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q_first_value_per_group",
    """
    SELECT o_custkey,
           min_by(o_orderkey,
                  date_diff('day', TIMESTAMP '1990-01-01 00:00:00', o_orderdate)
                      * 10000000000 + o_orderkey) AS first_orderkey,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_orderdate
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    "First-value-per-group (O21) with a deterministic ordering key "
    "(earliest order, orderkey tiebreak) instead of the reference's "
    "arbitrary first-row pick. Key = days*1e10 + orderkey (exact BIGINT).",
)
def q_first_value_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    ordkey = (
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("timestamp")).cast(
            "long"
        )
        * F.lit(10000000000).cast("long")
        + F.col("o_orderkey")
    )
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.min_by("o_orderkey", ordkey).alias("first_orderkey"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_orderdate"),
        )
        .orderBy("o_custkey")
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
        SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    ec AS (
        SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
               eu.s_name, eu.acctbal, eu.n_name
        FROM costs c JOIN eu ON c.l_suppkey = eu.s_suppkey
    )
    SELECT p.p_partkey, p.p_type, ec.s_name, ec.n_name, ec.acctbal,
           ROUND(ec.unit_cost, 4) AS unit_cost
    FROM part p JOIN ec ON p.p_partkey = ec.l_partkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
      AND ec.unit_cost = (SELECT MIN(e2.unit_cost) FROM ec e2
                          WHERE e2.l_partkey = ec.l_partkey)
    ORDER BY ec.acctbal DESC, ec.n_name, ec.s_name, p.p_partkey
    LIMIT 100
    """,
    "TPC-H Q2 shape (adapted: lineitem stands in for partsupp — the "
    "testdata has no ps_supplycost): per-part minimum unit cost among "
    "EUROPE suppliers via correlated subquery, expressed Spark-side as "
    "a window-min + filter (one shuffle on partkey, no self-join). MIN "
    "is order-insensitive, so the double compares bit-identically "
    "across engines.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    # region/nation are always-tiny: broadcast so the supplier (and
    # later the cost) side never shuffles for them.
    eu = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(
            "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"), "n_name"
        )
    )
    ec = costs.join(eu, costs.l_suppkey == eu.s_suppkey)
    # correlated MIN as a window over partkey: one exchange, no re-join
    w = Window.partitionBy("l_partkey")
    best = ec.withColumn("min_cost", F.min("unit_cost").over(w)).where(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .select(
            "p_partkey", "p_type", "s_name", "n_name", "acctbal",
            F.round("unit_cost", 4).alias("unit_cost"),
        )
        .orderBy(F.desc("acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "TPC-H Q13 shape: outer join with a join-time (not WHERE) predicate "
    "so customers with zero qualifying orders survive with count 0, "
    "then a distribution over the per-customer counts (two-level agg).",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q21_suppliers_kept_waiting",
    """
    SELECT eu.s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    JOIN (SELECT s_suppkey, s_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE') eu
      ON eu.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY eu.s_name
    ORDER BY numwait DESC, eu.s_name
    LIMIT 100
    """,
    "TPC-H Q21 shape (adapted: l_returnflag='R' stands in for the "
    "receipt-after-commit predicate — the testdata has no receipt/commit "
    "dates): the multi-EXISTS chain becomes a left-semi join (another "
    "supplier shipped in the order) plus a left-anti join (no OTHER "
    "supplier also failed), both shuffling only (orderkey, suppkey).",
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name")
    )
    l1 = li.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
        "l_returnflag",
    )
    semi = l1.join(
        others,
        (l1.l_orderkey == others.o2_orderkey)
        & (l1.l_suppkey != others.o2_suppkey),
        "left_semi",
    )
    anti = semi.join(
        others.where(F.col("l_returnflag") == "R"),
        (semi.l_orderkey == others.o2_orderkey)
        & (semi.l_suppkey != others.o2_suppkey),
        "left_anti",
    )
    return (
        anti.join(orders, anti.l_orderkey == orders.o_orderkey, "left_semi")
        .join(eu, anti.l_suppkey == eu.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "q17_small_quantity_revenue",
    """
    WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
    lim AS (
        SELECT l_partkey, 0.2 * AVG(l_quantity) AS lim
        FROM lineitem JOIN bp ON l_partkey = p_partkey
        GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN lim USING (l_partkey)
    WHERE l_quantity < lim
    """,
    "TPC-H Q17 shape: per-part correlated average (decorrelated to a "
    "grouped aggregate + join — the rewrite Catalyst itself performs), "
    "brand-filtered via a broadcast semi-join so the per-part average "
    "is only computed for parts that can match. Quantities are "
    "integer-valued doubles, so the averages are exact and the "
    "threshold comparison is engine-stable.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    bp = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    brand_li = li.join(
        F.broadcast(bp), li.l_partkey == bp.p_partkey, "left_semi"
    )
    lim = brand_li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("lim")
    )
    return (
        brand_li.join(lim, "l_partkey")
        .where(F.col("l_quantity") < F.col("lim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q18_large_orders",
    """
    WITH big AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN big      ON big.l_orderkey = o_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
    "TPC-H Q18 shape: HAVING-filtered IN-subquery (orders whose total "
    "quantity clears a threshold) as a semi-join against the grouped "
    "aggregate, then the customer/orders/lineitem re-join and top-k.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 250)
        .select("l_orderkey")
    )
    li_big = li.join(
        big.withColumnRenamed("l_orderkey", "big_key"),
        li.l_orderkey == F.col("big_key"),
        "left_semi",
    )
    return (
        li_big.join(orders, li_big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q22_idle_rich_customers",
    """
    WITH thr AS (SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
    SELECT CAST(c_nationkey % 5 AS INT) AS cgroup,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer, thr
    WHERE c_acctbal > thr.a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY 1
    ORDER BY 1
    """,
    "TPC-H Q22 shape (adapted: nation-key group stands in for the "
    "phone country code, 'no urgent orders' for 'no orders' — every "
    "testdata customer has orders): scalar-average subquery broadcast "
    "into the filter plus an anti-join, then grouped totals.",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    thr = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("a"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cgroup"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cgroup")
    )


@query(
    "q_percentiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "Exact interpolated percentiles (median, p95) per group — the "
    "distribution-shape aggregate. Spark's percentile() is a sort-based "
    "exact aggregate; at 100 TB swap for approx_percentile with a "
    "t-digest accuracy knob (same plan shape, bounded memory).",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_histogram",
    """
    SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    "Fixed-width histogram binning (10 buckets, last one open-ended): "
    "a codegen'd projection + tiny hash aggregate — the plan shape is "
    "identical at any scale since the shuffle carries 10 rows per task.",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("int")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


@query(
    "q7_nation_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: bidirectional nation-pair volume by ship year. The "
    "disjunctive nation-pair predicate sits ABOVE two broadcast dim "
    "joins — the fact side is filtered to two nations before the big "
    "orders join, and the OR never forces a cartesian.",
)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    joined = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                          ELSE 0 END) / SUM(volume), 6) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    "TPC-H Q8 shape: a nation's market share inside a region — "
    "conditional-sum ratio over an 8-way join, nation joined TWICE "
    "under different roles (customer residence vs supplier origin). "
    "Both nation legs broadcast; the ratio is one partial-aggregated "
    "pass, not two scans.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_regionkey").alias("n1_region"),
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", volume).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_type_profit",
    """
    SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount)
                 - p_retailprice * 0.6 * l_quantity AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    "TPC-H Q9 shape: product-line profit by supplier nation and year. "
    "The testdata has no partsupp table, so ps_supplycost is adapted to "
    "a fixed cost ratio of p_retailprice (documented divergence; the "
    "join/agg SHAPE — 5-way join filtered by a substring part "
    "predicate, two-level group — is what the query pins).",
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.6) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15 shape: quarter revenue view + scalar-max subquery "
    "selecting the top supplier(s). The Spark plan reuses ONE aggregated "
    "frame for both the max and the filter (no second lineitem scan) "
    "via a rank-over-empty-window on the tiny aggregate.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import materialize

    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    # revenue feeds both the scalar max and the join probe; without
    # materialize the plan scans lineitem twice (verified in .explain).
    revenue = materialize(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    # scalar max as a broadcast 1-row frame: no single-partition window,
    # no lineitem re-scan — the aggregate reduces once, the max reduces
    # the supplier-sized frame again, and the filter is a broadcast
    # nested-loop join against one row.
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    top = revenue.join(
        F.broadcast(max_rev), F.col("total_revenue") == F.col("max_rev")
    ).drop("max_rev")
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(top, supp.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q11_part_value_share",
    """
    WITH eu_supp AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    val AS (
        -- per-term round -> DECIMAL before SUM: the aggregate is exact
        -- and ORDER-INSENSITIVE, so the result cannot drift with the
        -- physical join strategy / partitioning on either engine
        SELECT l_partkey,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                        AS DECIMAL(18,4))) AS value
        FROM lineitem JOIN eu_supp ON l_suppkey = s_suppkey
        GROUP BY l_partkey
    )
    SELECT l_partkey, ROUND(CAST(value AS DOUBLE), 2) AS value
    FROM val
    WHERE value > (SELECT SUM(value) * 0.0005 FROM val)
    ORDER BY value DESC, l_partkey
    """,
    "TPC-H Q11 shape (adapted: lineitem revenue stands in for "
    "partsupp value — the testdata has no ps_availqty/ps_supplycost): "
    "per-part value restricted to EUROPE suppliers, kept when above a "
    "fraction of the total (HAVING vs scalar subquery). Spark-side the "
    "per-part aggregate is materialized once and the scalar total is a "
    "broadcast one-row join — no second lineitem scan, no "
    "single-partition window.",
)
def q11_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import materialize

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey")
    )
    # the supplier subset scales with SF: no broadcast hint — AQE
    # picks broadcast while it fits and falls back to shuffle join
    # beyond that. The one-row threshold below IS hinted.
    # per-term round -> decimal before the sum: exact, order-insensitive
    # aggregation that cannot drift with the join strategy (see oracle).
    term = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    ).cast("decimal(18,4)")
    val = materialize(
        li.join(eu, li.l_suppkey == eu.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(term).alias("value"))
    )
    threshold = val.agg((F.sum("value") * F.lit(0.0005)).alias("thr"))
    return (
        val.join(F.broadcast(threshold), F.col("value") > F.col("thr"))
        .select(
            "l_partkey",
            F.round(F.col("value").cast("double"), 2).alias("value"),
        )
        .orderBy(F.desc("value"), "l_partkey")
    )


@query(
    "q12_priority_by_returnflag",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "TPC-H Q12 shape (adapted: l_returnflag stands in for l_shipmode, "
    "which the testdata lacks): orders x lineitem over a one-year ship "
    "window, priority split as conditional aggregates. The date filter "
    "pushes to the lineitem scan; the conditional counts are a single "
    "partial+final hash agg after the join.",
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_supplier_count_by_part",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "TPC-H Q16 shape (adapted: lineitem stands in for partsupp; "
    "negative account balance stands in for the complaints LIKE "
    "filter): distinct-supplier counts per (brand, type, size) with a "
    "NOT IN exclusion subquery. The exclusion is a broadcast anti-join "
    "(supplier is a dim), part filters push to the scan, and the "
    "distinct count is a two-phase agg (dedup by group+suppkey, then "
    "count) — no giant exact-distinct state per group.",
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 36))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    # part and the excluded-supplier set scale with SF — leave the
    # join strategy to AQE rather than pinning a broadcast that breaks
    # at 100x.
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_promo_share_suppliers",
    """
    WITH promo_parts AS (
        SELECT p_partkey FROM part WHERE p_type = 'PROMO'
    ),
    shipped AS (
        SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
        FROM lineitem
        JOIN promo_parts ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
    ),
    qualifying AS (
        SELECT DISTINCT l_suppkey FROM (
            SELECT l_suppkey, qty,
                   SUM(qty) OVER (PARTITION BY l_partkey) AS part_total
            FROM shipped
        ) WHERE qty > 0.3 * part_total
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM qualifying)
    ORDER BY s_suppkey
    """,
    "TPC-H Q20 shape (adapted: the availqty comparison becomes a "
    "share-of-part-volume comparison — no partsupp in the testdata): "
    "suppliers who shipped more than 30% of any PROMO part's one-year "
    "volume. The per-part total is a window over the already-aggregated "
    "(part, supp) frame (no self-join), and the supplier lookup is a "
    "broadcast semi-join chain. l_quantity values are small integers, "
    "so the share comparison is FP-exact in both engines.",
)
def q20_promo_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    promo = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    # promo partkeys scale with SF: AQE decides the strategy.
    shipped = (
        li.join(promo, li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    qualifying = (
        shipped.withColumn("part_total", F.sum("qty").over(w))
        .where(F.col("qty") > 0.3 * F.col("part_total"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@query(
    "q_except_all",
    """
    SELECT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT ALL
        SELECT s_nationkey FROM supplier
    )
    ORDER BY nationkey
    """,
    "Set operation EXCEPT ALL (multiset semantics: each supplier row "
    "cancels ONE customer row with the same nation key, surviving "
    "multiplicities preserved) — exceptAll in the DataFrame API; "
    "complements q_set_ops' INTERSECT and the join-form q_anti_join.",
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.exceptAll(supp).orderBy("nationkey")


@query(
    "q_null_safe_join",
    """
    WITH c AS (
        SELECT c_custkey, NULLIF(c_nationkey, 0) AS nk FROM customer
        WHERE c_custkey <= 200
    ),
    s AS (
        SELECT s_suppkey, NULLIF(s_nationkey, 0) AS nk FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey, c.nk AS nationkey
    FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
    ORDER BY c_custkey, s_suppkey
    """,
    "Null-safe equality join (<=> / IS NOT DISTINCT FROM): nation key 0 "
    "is NULLIF'd away on both sides, and the null-safe predicate "
    "matches NULL to NULL — rows an ordinary equi-join silently drops. "
    "Spark plans <=> as a hash join on a null-safe key, not a "
    "nested-loop filter.",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 200)
        .select(
            "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nk")
        )
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey"), F.lit(0)).alias("snk")
    )
    return (
        cust.join(supp, cust.nk.eqNullSafe(supp.snk))
        .select("c_custkey", "s_suppkey", F.col("nk").alias("nationkey"))
        .orderBy("c_custkey", "s_suppkey")
    )


@query(
    "q_unpivot_metrics",
    """
    WITH wide AS (
        SELECT l_returnflag,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_price,
               ROUND(AVG(l_discount), 4) AS avg_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'avg_disc', avg_disc FROM wide
    )
    ORDER BY l_returnflag, metric
    """,
    "Unpivot (wide -> long melt) of a per-flag metric row via the "
    "first-class DataFrame unpivot operator — the inverse of the pivot "
    "surface (q_pivot_conditional): one aggregation, then a zero-"
    "shuffle in-partition expansion of the metric columns into "
    "(metric, value) rows.",
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return wide.unpivot(
        "l_returnflag",
        ["sum_qty", "sum_price", "avg_disc"],
        "metric",
        "value",
    ).orderBy("l_returnflag", "metric")
