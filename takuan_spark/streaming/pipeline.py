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

Parse, rules and datetime are the batch plan (compile_sensor); only the
source binding differs, so batch replay and live tail share those
semantics by construction. Two columns are set on the driver instead,
so that the only Spark work in a micro-batch is ``split_sink``'s one
collect, and its generated code is the same in every epoch:

- geo (O12, ref core/aggregator.go:62-66): ``start_pipeline`` loads the
  geo dim once, as Arrow, and ``split_sink`` looks each address up in
  it. A broadcast join would run its broadcast job again every epoch.
- ``detected_at`` (O11, ref core/sensor.go:90-96): the streaming plan
  carries a NULL placeholder and ``split_sink`` sets the epoch's batch
  timestamp from the offset log, the value Spark's
  ``current_timestamp()`` takes in a micro-batch. As a plan literal it
  would change the generated code, and so recompile it, every epoch.

Exactly-once (O16/O17): the checkpoint replays an uncommitted
micro-batch under the same ``epoch_id`` (a replayable source), so every
sink only has to be idempotent per epoch. The events and quarantine
tables name their files by epoch (``sinks/writers.py:write_epoch``), the
DuckDB and JDBC sinks guard each epoch in their transaction, and the
report files are named by epoch. That is the reference's
``reported_at`` protocol without a per-row update.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from takuan_spark.config import PipelineConfig
from takuan_spark.operators.enrich import GEO_COLUMNS, geo_enrich
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

    ``geo_dim`` joins the dim into the plan (:func:`geo_enrich`).
    :func:`start_pipeline` does not pass it: it looks geo up on the
    driver instead.
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


def geo_table(geo_dim: DataFrame) -> pa.Table:
    """The geo dim ``(ip, country_code, country_name)`` collected once, as
    strings, for :func:`split_sink`'s driver-side lookup. Rows with a
    NULL ``ip`` are dropped: no address matches them, as in the join. A
    repeated ``ip`` raises ``ValueError``: the reference makes one lookup
    per event, where a join would duplicate the event."""
    table = geo_dim.select(
        *[F.col(c).cast("string") for c in ("ip", *GEO_COLUMNS)]
    ).toArrow()
    table = table.filter(pc.is_valid(table["ip"]))
    counts = pc.value_counts(table["ip"])
    repeated = counts.filter(pc.greater(counts.field("counts"), 1))
    if len(repeated):
        raise ValueError(
            f"geo dim repeats ip {repeated[0]['values'].as_py()!r}: "
            "each ip must map to one country"
        )
    return table


def _lookup_geo(table: pa.Table, geo: pa.Table) -> pa.Table:
    """``table`` with its country columns looked up by ``address`` in
    ``geo``: same rows, same order; a miss or a NULL address gets NULLs."""
    idx = pc.index_in(table["address"], value_set=geo["ip"], skip_nulls=True)
    for name in GEO_COLUMNS:
        i = table.schema.get_field_index(name)
        table = table.set_column(i, name, pc.take(geo[name], idx))
    return table


def _batch_timestamp_ms(checkpoint_path: str, epoch_id: int) -> int:
    """The epoch's ``batchTimestampMs`` from ``<checkpoint>/offsets/<N>``
    (a local path): the value of ``current_timestamp()`` in that
    micro-batch. Spark writes the entry before it runs the batch and
    reads it back on a replay, so a replayed epoch gets the same value."""
    with open(os.path.join(checkpoint_path, "offsets", str(epoch_id))) as fh:
        version = fh.readline().rstrip("\n")
        if version != "v1":
            raise ValueError(
                f"offset log entry {epoch_id} under {checkpoint_path} has "
                f"version {version!r}, expected 'v1'"
            )
        return json.loads(fh.readline())["batchTimestampMs"]


def _stamp_detected_at(table: pa.Table, ms: int) -> pa.Table:
    ts = pa.scalar(ms * 1000, pa.timestamp("us", tz="UTC"))
    return table.set_column(
        table.schema.get_field_index("detected_at"),
        pa.field("detected_at", ts.type, nullable=False),
        pa.repeat(ts, table.num_rows),
    )


def split_sink(
    events_path: str,
    quarantine_path: str,
    *,
    post_hook: Callable[[pa.Table, int], None] | None = None,
    geo: pa.Table | None = None,
    checkpoint_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: collect the epoch once, as one Arrow table of
    the event columns, ``_parse_error`` and ``event_date`` (one Spark
    job), and serve every output from it.

    With ``checkpoint_path``, every row's ``detected_at`` is set to the
    epoch's ``batchTimestampMs`` from the offset log; without it, the
    batch keeps its own. With ``geo`` (:func:`geo_table`), every row,
    quarantine included, gets its country columns from the lookup.
    ``sinks/writers.py:write_epoch`` then puts good rows in the
    date-partitioned events table and parse errors in quarantine (O29),
    both exactly once under replay. ``post_hook`` is the DB-sink and
    report-job attachment point (the reference's reporter goroutine); it
    gets the epoch's good rows, event columns only, as a ``pa.Table``
    (empty for an empty epoch)."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        table = batch.withColumn("event_date", F.to_date("created_at")).toArrow()
        if checkpoint_path is not None:
            table = _stamp_detected_at(
                table, _batch_timestamp_ms(checkpoint_path, epoch_id)
            )
        if geo is not None:
            table = _lookup_geo(table, geo)
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

    ``geo_dim`` is collected once, here (:func:`geo_table`, one Spark
    job; a repeated ``ip`` raises before the query starts), and
    :func:`split_sink` looks geo up on the driver. The streaming plan
    carries ``detected_at`` as a NULL placeholder, which
    :func:`split_sink` sets from the checkpoint's offset log. Each
    micro-batch then runs one Spark job, whose generated code is
    compiled once per query.
    """
    geo = geo_table(geo_dim) if geo_dim is not None else None
    events = compile_stream(
        spark, config, paths=paths, tail_files=tail_files
    ).withColumn("detected_at", F.lit(None).cast("timestamp"))
    writer = events.writeStream.foreachBatch(
        split_sink(
            events_path,
            quarantine_path,
            post_hook=post_hook,
            geo=geo,
            checkpoint_path=checkpoint_path,
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{config.flush_period_secs} seconds")
    return writer.start()
