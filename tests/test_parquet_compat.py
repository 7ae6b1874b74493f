"""One events table across both of its writers: an epoch Spark wrote
(``write_events``: Spark's file layout and INT96 timestamps) and an
epoch ``write_epoch`` wrote from Arrow read back as one table with the
Spark-written schema, through Spark and DuckDB, and the ``--geo``
re-enrich rewrites the mixed table."""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampType

import takuan_spark.__main__ as cli
from takuan_spark.plans.compiler import EVENT_COLUMNS
from takuan_spark.sinks.writers import write_epoch, write_events

EVENT_SCHEMA = ", ".join(
    f"{c} timestamp" if c in ("created_at", "detected_at", "reported_at")
    else f"{c} string"
    for c in EVENT_COLUMNS
)


def _events(spark, day: int | None, addresses: list[str]):
    t = dt.datetime(2026, 8, day, 6, 15) if day else None
    return spark.createDataFrame(
        [(t, dt.datetime(2026, 8, 20), "node", a, None, None, "ssh",
          "auth-failure", f"line from {a}", None) for a in addresses],
        EVENT_SCHEMA,
    )


def _epoch_table(spark):
    """Epoch 1 as ``split_sink`` collects it: two good rows on Aug 14,
    one on Aug 15 and one parse error."""
    batch = (
        _events(spark, 14, ["1.1.1.1", "3.3.3.3"])
        .unionByName(_events(spark, 15, ["4.4.4.4"]))
        .unionByName(_events(spark, None, ["9.9.9.9"]))
    )
    return (
        batch.withColumn("_parse_error", F.col("created_at").isNull())
        .withColumn("event_date", F.to_date("created_at"))
        .toArrow()
    )


def test_spark_and_arrow_epochs_read_as_one_table(spark, tmp_path):
    spark_only, arrow_only, mixed = (str(tmp_path / n) for n in ("s", "a", "m"))
    old = _events(spark, 13, ["1.1.1.1", "2.2.2.2"])
    table = _epoch_table(spark)
    write_events(old, spark_only)
    write_epoch(table, arrow_only, str(tmp_path / "qa"), 1)
    write_events(old, mixed)
    write_epoch(table, mixed, str(tmp_path / "qm"), 1)

    want = spark.read.parquet(spark_only).schema
    assert want.names == [*EVENT_COLUMNS, "event_date"]
    for name in ("created_at", "detected_at", "reported_at"):
        assert isinstance(want[name].dataType, TimestampType)
    assert isinstance(want["event_date"].dataType, DateType)
    assert spark.read.parquet(arrow_only).schema == want
    events = spark.read.parquet(mixed)
    assert events.schema == want
    got = {(r["address"], str(r["event_date"]), r["created_at"].day)
           for r in events.collect()}
    assert got == {("1.1.1.1", "2026-08-13", 13), ("2.2.2.2", "2026-08-13", 13),
                   ("1.1.1.1", "2026-08-14", 14), ("3.3.3.3", "2026-08-14", 14),
                   ("4.4.4.4", "2026-08-15", 15)}
    assert spark.read.parquet(str(tmp_path / "qm")).count() == 1

    sql = f"SELECT count(*) FROM read_parquet('{mixed}/*/*.parquet')"
    assert duckdb.sql(sql).fetchone()[0] == 5

    geo = tmp_path / "geo.csv"
    geo.write_text("ip,country_code,country_name\n1.1.1.1,CN,China\n")
    assert cli._run_geo_batch(spark, mixed, str(geo)) == 0
    refreshed = spark.read.parquet(mixed)
    assert refreshed.schema.names == want.names
    countries = {(r["address"], r["country_code"]) for r in refreshed.collect()}
    assert countries == {("1.1.1.1", "CN"), ("2.2.2.2", None),
                         ("3.3.3.3", None), ("4.4.4.4", None)}
