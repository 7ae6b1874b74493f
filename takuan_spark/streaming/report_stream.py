"""Incrementally-maintained attack report — the reference's per-address
aggregation (group-by address + count + per-(sensor, rule) counters,
ref core/reporter.go:102-168) as a streaming materialized view.

The reference recomputes its report from the full unreported set every
flush tick. Counts are LINEAR: the report of a union is the element-wise
sum of per-batch reports — so the streaming form writes one partial
report per epoch (rows = distinct (address, sensor, rule) keys in that
batch, tiny) and any reader sums the epochs per key and applies the same
per-address fold the batch report uses. A replayed epoch overwrites its
own partition (dynamic partition overwrite), so it is counted once.

At 100 TB of events this is the difference between re-scanning the
events table per report and reading (epochs x active addresses) partial
rows: report freshness costs O(batch), not O(history).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_spark.operators.reports import (
    REPORT_KEYS,
    partial_report,
    report_from_counts,
)


def report_sink(table_path: str) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink writing each epoch's partial report."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        (
            partial_report(batch)
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(table_path)
        )

    return _sink


def merged_report(spark, table_path: str) -> DataFrame:
    """The current report, identical to running the batch
    ``operators.reports.address_report`` over every event ingested:
    sum the per-epoch partials per key, then the shared per-address
    fold (``operators.reports.report_from_counts``)."""
    partials = spark.read.parquet(table_path).drop("epoch")
    counts = partials.groupBy(*REPORT_KEYS).agg(F.sum("n").alias("cnt"))
    return report_from_counts(counts)
