"""Sinks (SURVEY.md §2 O14-O15, O24).

The reference buffers events and flushes them with per-row INSERTs into
MySQL every N seconds (ref: core/aggregator.go:43-88, 219-225 — the
author's own comment marks per-row work "SLOW"). The Spark-native sink is
set-oriented: the micro-batch *is* the buffer (trigger interval = the
flush period) and each batch lands as one partitioned write.

Events are partitioned by date at rest: at 100 TB the events table must
be partition-prunable by time, since every report query reads a bounded
recent slice.

The service writes each micro-batch with :func:`write_epoch`: one staged
write, then a publish that names every file by its epoch, so a replayed
epoch replaces its own files instead of adding a second copy.
"""

from __future__ import annotations

import contextlib
import csv
import os
import shutil

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    batch: DataFrame, events_path: str, quarantine_path: str, epoch_id: int
) -> None:
    """Write one micro-batch (event columns plus ``_parse_error``) exactly
    once per epoch: good rows into ``events_path/event_date=<d>/``, parse
    errors flat into ``quarantine_path/`` (O29).

    One write job overwrites ``events_path/_staging/epoch=<N>/``,
    partitioned by ``_parse_error`` and ``event_date`` (null for every
    quarantined row, so the quarantine stages into one directory). The
    publish then visits each destination directory the stage fills,
    deletes the ``epoch-<N>-*`` files an earlier attempt left there and
    renames the staged files in under that prefix; last it removes the
    stage. Structured Streaming replays an uncommitted epoch under the
    same id with the same rows, so a replay, or a crash anywhere in this
    function, ends with exactly one copy of the epoch in both tables.

    Limits: epoch ids belong to one checkpoint (delete the checkpoint,
    delete the outputs too); ``--geo`` renames the whole table to
    ``part-*`` files, so a replay of an epoch left uncommitted before a
    ``--geo`` run can duplicate it. The publish is local-filesystem
    renames, which is where the service writes.
    """
    # the leading underscore keeps the stage out of every read of the table
    stage = os.path.join(events_path, "_staging", f"epoch={epoch_id}")
    good = ~F.col("_parse_error")
    (
        batch.withColumn("event_date", F.when(good, F.to_date("created_at")))
        .write.mode("overwrite")
        .partitionBy("_parse_error", "event_date")
        .parquet(stage)
    )
    prefix = f"epoch-{epoch_id}-"
    for flag, dest in (("false", None), ("true", quarantine_path)):
        root = os.path.join(stage, f"_parse_error={flag}")
        for date_dir in _listdir(root):
            _publish(
                os.path.join(root, date_dir),
                dest or os.path.join(events_path, date_dir),
                prefix,
            )
    shutil.rmtree(stage)
    with contextlib.suppress(OSError):  # not empty: another writer's stage
        os.rmdir(os.path.dirname(stage))


def _listdir(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


def _publish(src: str, dest: str, prefix: str) -> None:
    """Replace ``dest``'s ``prefix*`` files with the data files in ``src``."""
    os.makedirs(dest, exist_ok=True)
    for name in _listdir(dest):
        if name.startswith(prefix):
            os.remove(os.path.join(dest, name))
    for name in _listdir(src):
        if not name.startswith((".", "_")):  # checksums, markers
            os.rename(os.path.join(src, name), os.path.join(dest, prefix + name))


def write_csv_report(df: DataFrame, path: str) -> None:
    """CSV report sink (O24, ref: core/reporter.go:124-173) for a report
    Spark computed, e.g. over the stored events history.

    ``coalesce(1)`` for the human-readable single-file report — report
    outputs are top-k/aggregate sized, so this never bottlenecks. The
    service's per-epoch report is folded on the driver and written by
    :func:`write_csv_table` into the same layout instead.
    """
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


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
