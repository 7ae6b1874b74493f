"""SQL-registered function surface: value parity with the Column
builders and the codegen-inlining guarantee."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from takuan_spark.operators import enrich
from takuan_zoo.functions import register_sql_functions
from takuan_zoo.operators import text, web
from takuan_zoo.operators.hashing import md5_int

SAMPLES = [
    "The quick brown fox, it jumped! Over 42 lazy dogs...",
    "  def f(x): return arr[0] + y; if (n == 2) { s = n * 3; }  ",
    "https://cdn.badsite.net/a/b?q=1 and 10.1.2.3 mixed in",
    "",
    "UPPER lower   MiXeD\tcase\ntext",
]


@pytest.fixture(scope="module")
def sdf(spark):
    register_sql_functions(spark)
    df = spark.createDataFrame([Row(s=s) for s in SAMPLES])
    df.createOrReplaceTempView("samples")
    return df


def _pairs(spark, sdf, sql_expr, col):
    got = [r.v for r in spark.sql(
        f"SELECT {sql_expr} AS v FROM samples"
    ).collect()]
    want = [r.v for r in sdf.select(col.alias("v")).collect()]
    return got, want


def test_word_and_token_counts_match_column_api(spark, sdf):
    got, want = _pairs(spark, sdf, "takuan_word_count(s)", text.word_count("s"))
    assert got == want
    got, want = _pairs(spark, sdf, "takuan_token_count(s)", text.token_count("s"))
    assert got == want


def test_ratios_match_column_api(spark, sdf):
    got, want = _pairs(spark, sdf, "takuan_punct_ratio(s)", text.punct_ratio("s"))
    assert got == want
    got, want = _pairs(spark, sdf, "takuan_code_frac(s)", text.code_likeness("s"))
    assert got == want


def test_fingerprint_host_match_column_api(spark, sdf):
    got, want = _pairs(spark, sdf, "takuan_fingerprint(s)", text.fingerprint("s"))
    assert got == want
    got, want = _pairs(spark, sdf, "takuan_url_host(s)", web.url_host("s"))
    assert got == want


def test_ip_and_hash_match_column_api(spark, sdf):
    ips = spark.createDataFrame([Row(s="10.1.2.3"), Row(s="255.255.255.255")])
    ips.createOrReplaceTempView("ips")
    got = [r.v for r in spark.sql(
        "SELECT takuan_ip_to_long(s) AS v FROM ips").collect()]
    want = [r.v for r in ips.select(enrich.ip_to_long("s").alias("v")).collect()]
    assert got == want
    got, want = _pairs(
        spark, sdf, "takuan_md5_int60(s)", md5_int("s", hex_chars=15)
    )
    assert got == want


def test_sql_udfs_inline_into_codegen(spark, sdf):
    # the body must inline as a plain Project — no BatchEvalPython /
    # ArrowEvalPython node (the Python-UDF slow path) anywhere
    plan = spark.sql(
        "SELECT takuan_word_count(s), takuan_fingerprint(s) FROM samples"
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Project" in plan


def test_recursive_cte_bfs_semantics(spark):
    """Pin WITH RECURSIVE working-table semantics on a hand-computed
    graph (the engine behavior q_recursive_cte relies on): per-level
    DISTINCT + hop bound, MIN(hop) = true BFS distance, cycles bounded
    by the hop cap, unreachable nodes absent."""
    spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (1, 4), (9, 0)],
        "src int, dst int",
    ).createOrReplaceTempView("rcte_test_edges")
    rows = spark.sql(
        """
        WITH RECURSIVE reach(node, hop) AS (
            SELECT CAST(0 AS INT), CAST(0 AS INT)
            UNION ALL
            SELECT DISTINCT e.dst, CAST(r.hop + 1 AS INT)
            FROM reach r JOIN rcte_test_edges e ON e.src = r.node
            WHERE r.hop < 4
        )
        SELECT node, MIN(hop) AS hops FROM reach
        GROUP BY node ORDER BY node
        """
    ).collect()
    got = {r.node: r.hops for r in rows}
    # 0 -> 1 -> {2, 4}; 2 -> 3; 3 -> 0 closes a cycle (bounded by the
    # hop cap, re-reaching 0 at hop 4 never beats MIN hop 0); node 9
    # only points INTO the component and must be unreachable.
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 2}


def test_sql_pipe_syntax_matches_classic_form(spark, sf_dir):
    """The pipe-operator form must return the exact rows of the classic
    formulation on the same session (the Catalyst-normalization claim
    q_sql_pipe_syntax registers against the external oracle)."""
    from takuan_zoo.queries.advanced import q_sql_pipe_syntax

    piped = q_sql_pipe_syntax(spark, sf_dir).collect()
    from takuan_spark.tables import load_table

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pipe_classic_li"
    )
    classic = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM pipe_classic_li
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    ).collect()
    assert piped == classic and len(piped) > 0
