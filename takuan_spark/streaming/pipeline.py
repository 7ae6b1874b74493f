"""Streaming pipeline: the reference's running service as one
Structured Streaming query (SURVEY.md §2 O1-O3, O14-O15, O29, O30; §3.1).

The mapping, operator by operator:

- file tail + offset checkpoint (O1/O3, ref core/sensor.go:42-123,
  models/state.go): ``readStream.text(dir)`` over a directory of log
  chunks; consumed-file tracking lives in the checkpointLocation. Log
  rotation (O2) is a non-event: a rotated file is a new file.
- micro-batch buffer + periodic flush (O14, ref core/aggregator.go:43-88,
  219-225): ``trigger(processingTime=...)`` with the flush period.
- row-at-a-time DB sink → one set-oriented ``foreachBatch`` sink per
  micro-batch (O15): the epoch is collected once, as Arrow, and every
  sink (parquet tables, DuckDB/JDBC, report) is served from that table.
- error side channel (O29, ref ErrorBus core/aggregator.go:24): rows that
  parse but carry an unparseable datetime keep flowing with
  ``_parse_error = true``; the sink routes them to a quarantine path
  instead of killing the query.
- multi-sensor union (O30): one streaming DF per sensor, unioned, so one
  query/checkpoint drives all sensors — same as the reference's single
  aggregator loop.

The *plan* is byte-identical to the batch one (compile_sensor); only the
source binding differs. That is the whole point of building on
DataFrames: batch replay and live tail share semantics by construction.

Exactly-once (O16/O17): the checkpoint replays an uncommitted
micro-batch under the same ``epoch_id`` (a replayable source), so every
sink only has to be idempotent per epoch. The events and quarantine
tables name their files by epoch (``sinks/writers.py:write_epoch``), the
DuckDB and JDBC sinks guard each epoch in their transaction, and the
report files are named by epoch. That is the reference's
``reported_at`` protocol without a per-row update.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from takuan_spark.config import PipelineConfig
from takuan_spark.operators.enrich import geo_enrich
from takuan_spark.plans.compiler import EVENT_COLUMNS, compile_sensor
from takuan_spark.sinks.writers import write_epoch

#: input bytes one micro-batch takes from each sensor's chunk directory.
#: A catch-up run (``--batch``, or a service started on a backlog) then
#: drains the backlog as several epochs instead of one, which bounds what
#: the driver collects per epoch: ``split_sink``'s one Arrow table of the
#: epoch, which every sink and the report hook are served from. The file
#: source takes at least one whole file per epoch, so one file larger
#: than this is still read in one epoch.
MAX_EPOCH_BYTES = 64 * 1024 * 1024


def compile_stream(
    spark: SparkSession,
    config: PipelineConfig,
    *,
    paths: dict[str, str] | None = None,
    geo_dim: DataFrame | None = None,
    tail_files: bool = False,
) -> DataFrame:
    """Streaming events DataFrame: union of all enabled sensors with the
    error-quarantine column (``_parse_error``) retained.

    ``tail_files=False`` (default): each sensor path is a chunk
    DIRECTORY consumed by the built-in file source — the scale path
    (parallel scans, many files), at most ``MAX_EPOCH_BYTES`` of it per
    micro-batch. ``tail_files=True``: each path is ONE
    live log file consumed by the byte-offset ``filetail`` source
    (``sources/tail_source.py``) — the reference sensor's exact
    single-file semantics including truncation reset (O1/O2/O3).
    """
    if tail_files:
        from takuan_spark.sources.tail_source import register_filetail

        register_filetail(spark)
    parts = []
    for sensor in config.enabled_sensors():
        path = (paths or {}).get(sensor.name, sensor.filename)
        if tail_files:
            lines = (
                spark.readStream.format("filetail")
                .option("path", path)
                .load()
                .select("value")
            )
        else:
            lines = spark.readStream.option(
                "maxBytesPerTrigger", str(MAX_EPOCH_BYTES)
            ).text(path)
        parts.append(
            compile_sensor(
                lines,
                sensor,
                node_name=config.node_name,
                year=config.year,
                quarantine=True,
            )
        )
    if not parts:
        raise ValueError("no enabled sensors")
    events = reduce(lambda a, b: a.unionByName(b), parts)
    if geo_dim is not None:
        events = geo_enrich(
            events.drop("country_code", "country_name"), geo_dim
        ).select(*EVENT_COLUMNS, "_parse_error")
    return events


def split_sink(
    events_path: str,
    quarantine_path: str,
    *,
    post_hook: Callable[[pa.Table, int], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: collect the epoch once, as one Arrow table of
    the event columns, ``_parse_error`` and ``event_date`` (one Spark
    job), and serve every output from it. ``sinks/writers.py:write_epoch``
    puts good rows in the date-partitioned events table and parse errors
    in quarantine (O29), both exactly once under replay. ``post_hook``
    is the DB-sink and report-job attachment point (the reference's
    reporter goroutine); it gets the epoch's good rows, event columns
    only, as a ``pa.Table`` (empty for an empty epoch)."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        table = batch.withColumn("event_date", F.to_date("created_at")).toArrow()
        write_epoch(table, events_path, quarantine_path, epoch_id)
        if post_hook is not None:
            good = table.filter(pc.invert(table["_parse_error"]))
            post_hook(good.drop_columns(["_parse_error", "event_date"]), epoch_id)

    return _sink


def start_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    *,
    events_path: str,
    quarantine_path: str,
    checkpoint_path: str,
    paths: dict[str, str] | None = None,
    geo_dim: DataFrame | None = None,
    available_now: bool = False,
    post_hook: Callable[[pa.Table, int], None] | None = None,
    tail_files: bool = False,
) -> StreamingQuery:
    """Start the service. ``available_now=True`` drains the current
    backlog and stops (tests, catch-up runs); otherwise the trigger is
    the config's flush period, exactly the reference's DB-flush ticker.
    ``tail_files=True`` tails single live log files byte-by-byte
    (see :func:`compile_stream`).
    """
    events = compile_stream(
        spark, config, paths=paths, geo_dim=geo_dim, tail_files=tail_files
    )
    writer = events.writeStream.foreachBatch(
        split_sink(events_path, quarantine_path, post_hook=post_hook)
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{config.flush_period_secs} seconds")
    return writer.start()
