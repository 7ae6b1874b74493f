"""Sinks (SURVEY.md §2 O14-O15, O24).

The reference buffers events and flushes them with per-row INSERTs into
MySQL every N seconds (ref: core/aggregator.go:43-88, 219-225 — the
author's own comment marks per-row work "SLOW"). The Spark-native sink is
set-oriented: the micro-batch *is* the buffer (trigger interval = the
flush period) and each batch lands as one partitioned append.

Events are partitioned by date at rest: at 100 TB the events table must
be partition-prunable by time, since every report query reads a bounded
recent slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_events(df: DataFrame, path: str, *, mode: str = "append") -> None:
    """Append an events batch to the parquet events table, partitioned by
    event date (the JDBC-shaped analog would swap ``.parquet`` for
    ``.jdbc`` — same set-oriented write, ref contrast:
    core/aggregator.go:77-79 row-at-a-time INSERT loop)."""
    (
        df.withColumn("event_date", F.to_date("created_at"))
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def write_csv_report(df: DataFrame, path: str, *, single_file: bool = True) -> None:
    """CSV report sink (O24, ref: core/reporter.go:124-173).

    ``coalesce(1)`` only for the human-readable single-file report —
    report outputs are top-k/aggregate sized, so this never bottlenecks.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)
