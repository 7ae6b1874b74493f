"""Sinks (SURVEY.md §2 O14-O15, O24).

The reference buffers events and flushes them with per-row INSERTs into
MySQL every N seconds (ref: core/aggregator.go:43-88, 219-225 — the
author's own comment marks per-row work "SLOW"). The Spark-native sink is
set-oriented: the micro-batch *is* the buffer (trigger interval = the
flush period) and each batch lands as one write per destination.

Events are partitioned by date at rest: at 100 TB the events table must
be partition-prunable by time, since every report query reads a bounded
recent slice.

The service collects each micro-batch once as Arrow and writes it with
:func:`write_epoch`: one parquet file per destination directory, named
by its epoch, so a replayed epoch replaces its own files instead of
adding a second copy. :func:`write_events` is the Spark-side append the
same table layout came from; reports Spark computes over stored history
go through :func:`write_csv_report`.
"""

from __future__ import annotations

import csv
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Spark's CSV writer options for RFC 4180 output, the dialect
#: :func:`write_csv_table` writes: quotes doubled, not backslash-escaped;
#: values not whitespace-trimmed; an empty string (like NULL) written as
#: an empty field
CSV_OPTIONS = {
    "header": True,
    "escape": '"',
    "ignoreLeadingWhiteSpace": False,
    "ignoreTrailingWhiteSpace": False,
    "emptyValue": "",
}


def write_events(df: DataFrame, path: str) -> None:
    """Append an events batch to the parquet events table, partitioned by
    event date (the JDBC-shaped analog would swap ``.parquet`` for
    ``.jdbc`` — same set-oriented write, ref contrast:
    core/aggregator.go:77-79 row-at-a-time INSERT loop)."""
    (
        df.withColumn("event_date", F.to_date("created_at"))
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(path)
    )


def write_epoch(
    table: pa.Table, events_path: str, quarantine_path: str, epoch_id: int
) -> None:
    """Write one micro-batch, collected as Arrow (the event columns,
    ``_parse_error`` and ``event_date``), exactly once per epoch: good
    rows into ``events_path/event_date=<d>/``, parse errors flat into
    ``quarantine_path/`` (O29), the layout :func:`write_events` makes.

    Each destination directory gets one file, ``epoch-<N>-0.parquet``,
    holding the event columns. It is written under a hidden name that
    Spark and ``*.parquet`` globs skip; then any other ``epoch-<N>-*``
    file there (an earlier build's ``epoch-<N>-part-*``) is removed and
    the file is renamed into place. Structured Streaming replays an
    uncommitted epoch under the same id with the same rows, so a replay,
    or a crash anywhere in this function, ends with exactly one copy of
    the epoch in both tables. An empty epoch writes nothing.

    Limits: epoch ids belong to one checkpoint (delete the checkpoint,
    delete the outputs too); ``--geo`` renames the whole table to
    ``part-*`` files, so a replay of an epoch left uncommitted before a
    ``--geo`` run can duplicate it. The publish is local-filesystem
    renames, which is where the service writes.
    """
    errors = table["_parse_error"]
    good = pc.invert(errors)
    rows = table.drop_columns(["_parse_error", "event_date"])
    # Spark's partition directory names: ISO dates, NULL as the Hive default
    dates = pc.fill_null(
        pc.cast(table["event_date"], pa.string()), "__HIVE_DEFAULT_PARTITION__"
    )
    for date in sorted(pc.unique(dates.filter(good)).to_pylist()):
        _publish(
            rows.filter(pc.and_(good, pc.equal(dates, date))),
            os.path.join(events_path, f"event_date={date}"),
            epoch_id,
        )
    if pc.any(errors).as_py():
        _publish(rows.filter(errors), quarantine_path, epoch_id)


def _publish(rows: pa.Table, dest: str, epoch_id: int) -> None:
    """Make ``rows`` the one ``epoch-<epoch_id>-*`` file in ``dest``."""
    name = f"epoch-{epoch_id}-0.parquet"
    tmp = os.path.join(dest, f".{name}.tmp")
    os.makedirs(dest, exist_ok=True)
    pq.write_table(rows, tmp)
    for old in os.listdir(dest):
        if old.startswith(f"epoch-{epoch_id}-") and old != name:
            os.remove(os.path.join(dest, old))
    os.replace(tmp, os.path.join(dest, name))


def write_csv_report(df: DataFrame, path: str) -> None:
    """CSV report sink (O24, ref: core/reporter.go:124-173) for a report
    Spark computed, e.g. over the stored events history.

    ``coalesce(1)`` for the human-readable single-file report — report
    outputs are top-k/aggregate sized, so this never bottlenecks. The
    service's per-epoch report is folded on the driver and written by
    :func:`write_csv_table` into the same layout and dialect (RFC 4180,
    ``CSV_OPTIONS``) instead.
    """
    df.coalesce(1).write.mode("overwrite").options(**CSV_OPTIONS).csv(path)


def write_csv_table(table: pa.Table, path: str) -> None:
    """Write a driver-side Arrow table as the report directory
    :func:`write_csv_report` makes: ``path/part-00000.csv`` with a header
    row, NULL as an empty field, RFC 4180 quoting. Rows are converted a
    batch at a time. The file is written under a hidden name, any other
    ``part-*`` file in ``path`` (a Spark-named part from an earlier
    build) is removed, and the file is renamed into place, so a reader
    never sees a partial file and a rerun of the same report replaces
    it."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".part-00000.csv.tmp")
    with open(tmp, "w", newline="", encoding="utf-8") as fh:
        writer = csv.writer(fh, lineterminator="\n")
        writer.writerow(table.column_names)
        for chunk in table.to_batches(max_chunksize=65536):
            writer.writerows(zip(*(column.to_pylist() for column in chunk.columns)))
    for name in os.listdir(path):
        if name.startswith("part-") and name != "part-00000.csv":
            os.remove(os.path.join(path, name))
    os.replace(tmp, os.path.join(path, "part-00000.csv"))
