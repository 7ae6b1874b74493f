"""Incremental attack report: the merged streaming view must equal the
batch address_report over everything ingested, replays must not
double-count, and both reports must plan as the same two-level
aggregation."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from takuan_spark.operators.reports import address_report
from takuan_spark.streaming.report_stream import merged_report, report_sink

SCHEMA = (
    "address string, sensor string, rule string, "
    "country_code string, country_name string"
)


def _events(start, n):
    rows = []
    for i in range(start, start + n):
        ip = f"10.0.0.{i % 7}"
        rows.append(
            {
                "address": ip,
                "sensor": "ssh" if i % 3 else "http",
                "rule": "auth-failure" if i % 2 else "enum",
                "country_code": "US" if i % 7 < 4 else "DE",
                "country_name": "United States" if i % 7 < 4 else "Germany",
            }
        )
    return pd.DataFrame(rows)


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "table": str(tmp_path / "report"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(spark, env):
    q = (
        spark.readStream.schema(SCHEMA)
        .parquet(str(env["src"]))
        .writeStream.foreachBatch(report_sink(env["table"]))
        .option("checkpointLocation", env["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_merged_report_equals_batch_report(spark, env):
    _events(0, 60).to_parquet(env["src"] / "b1.parquet")
    _drain(spark, env)
    _events(60, 45).to_parquet(env["src"] / "b2.parquet")
    _drain(spark, env)
    got = [tuple(r) for r in merged_report(spark, env["table"]).collect()]
    want = [
        tuple(r)
        for r in address_report(
            spark.read.parquet(str(env["src"]))
        ).collect()
    ]
    assert got == want


def test_replayed_epoch_does_not_double_count(spark, env):
    batch = spark.createDataFrame(_events(0, 30))
    sink = report_sink(env["table"])
    sink(batch, 5)
    first = [tuple(r) for r in merged_report(spark, env["table"]).collect()]
    sink(batch, 5)  # replay
    second = [tuple(r) for r in merged_report(spark, env["table"]).collect()]
    assert first == second


def _plan_shape(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    ops = re.findall(r"(\w+) \(\d+\)", tree)
    kinds = re.findall(r"Arguments: (hashpartitioning|rangepartitioning)", plan)
    return {
        "hash_exchanges": kinds.count("hashpartitioning"),
        "range_exchanges": kinds.count("rangepartitioning"),
        "HashAggregate": ops.count("HashAggregate"),
        "ObjectHashAggregate": ops.count("ObjectHashAggregate"),
        "SortAggregate": ops.count("SortAggregate"),
    }


def test_report_plans_share_one_two_level_shape(spark, env):
    # every report is the inner (address, sensor, rule, country) count or
    # sum, then the one per-address fold: one hash exchange per level,
    # one range exchange for the ordering, hash aggregates for the
    # counts and object-hash aggregates for the counters' collect_list
    events = spark.createDataFrame(_events(0, 30)).withColumn(
        "created_at", F.current_timestamp()
    )
    report_sink(env["table"])(events, 0)
    want = {
        "hash_exchanges": 2,
        "range_exchanges": 1,
        "HashAggregate": 2,
        "ObjectHashAggregate": 2,
        "SortAggregate": 0,
    }
    assert _plan_shape(address_report(events)) == want
    assert _plan_shape(address_report(events, seen_col="created_at")) == want
    assert _plan_shape(merged_report(spark, env["table"])) == want
