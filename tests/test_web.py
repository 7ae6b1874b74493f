"""Domain curation operators: suffix extraction, literal-blocklist
flagging, and the exploded-suffix blocklist join."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from takuan_zoo.operators import web


def test_host_suffixes_most_specific_first(spark):
    df = spark.createDataFrame([Row(h="a.b.co.uk")])
    [row] = df.select(web.host_suffixes(F.col("h")).alias("s")).collect()
    assert row.s == ["a.b.co.uk", "b.co.uk", "co.uk", "uk"]


def test_url_host_and_no_scheme(spark):
    df = spark.createDataFrame(
        [Row(u="https://x.example.com/a/b?q=1"), Row(u="not a url")]
    )
    got = [r.h for r in df.select(web.url_host(F.col("u")).alias("h")).collect()]
    assert got == ["x.example.com", ""]


def test_domain_blocked_matches_by_suffix_not_substring(spark):
    df = spark.createDataFrame(
        [
            Row(h="cdn.badsite.net"),   # suffix hit
            Row(h="badsite.net"),       # exact hit
            Row(h="notbadsite.net"),    # substring only -> clean
            Row(h="badsite.net.evil"),  # prefix only -> clean
        ]
    )
    got = [
        r.b
        for r in df.select(
            web.domain_blocked(F.col("h"), ["badsite.net"]).alias("b")
        ).collect()
    ]
    assert got == [True, True, False, False]


def test_blocklist_filter_join_path(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, url="https://ok.example.org/x"),
            Row(doc_id=2, url="https://cdn.badsite.net/y"),
            Row(doc_id=3, url="https://spam.example.com/z"),
            Row(doc_id=4, url="https://example.com/w"),
        ]
    )
    bl = spark.createDataFrame(
        [("badsite.net",), ("spam.example.com",)], "domain string"
    )
    kept = sorted(
        r.doc_id for r in web.blocklist_filter(docs, bl).collect()
    )
    assert kept == [1, 4]
