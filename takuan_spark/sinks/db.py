"""Transactional DB sink with exactly-once batch delivery.

The reference flushes its event buffer into MySQL with per-row INSERTs
(ref: core/aggregator.go:159-171 connect + auto-migrate; 219-225 the
flush loop the author marks "SLOW"). The Spark-native shape is a
``foreachBatch`` sink with an **epoch registry**: Structured Streaming
guarantees at-least-once delivery of each micro-batch (a failed epoch is
replayed with the same ``epoch_id``), so a sink that records delivered
(table, epoch_id) pairs in the same transaction as the data insert is
exactly-once end-to-end — the reference's ``reported_at`` protocol as a
two-line transactional guard.

The sink takes the epoch as the Arrow table ``streaming/pipeline.py:
split_sink`` collected once for every output, and DuckDB scans it in
place. The table keeps Spark's column types, so the table a first epoch
creates is typed even when that epoch is empty or a column is all null;
the data volume a driver can funnel is the ceiling, and
``pipeline.MAX_EPOCH_BYTES`` bounds it per epoch. The events and
quarantine parquet are made exactly-once by epoch-named files instead
(``sinks/writers.py:write_epoch``); the same guard over real JDBC
(staging table + transactional promote, tested against embedded Derby)
is ``sinks/jdbc.py:jdbc_exactly_once_sink``, a Spark-writer sink that
the service hands a DataFrame made from the same table.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa

EPOCH_TABLE = "_sink_epochs"


def duckdb_exactly_once_sink(
    db_path: str, table: str
) -> Callable[[pa.Table, int], None]:
    """Epoch sink: append the epoch's rows, an Arrow table, into DuckDB
    table ``table`` exactly once per epoch.

    The epoch guard and the data insert commit in ONE transaction: a
    replayed epoch (crash between sink and checkpoint commit) sees its
    epoch_id already registered and skips — no duplicates; a crash
    mid-transaction rolls both back — no partial batches. Schema is
    auto-created from the batch (the reference's MySQL auto-migrate,
    core/aggregator.go:165-169).
    """

    def _sink(batch: pa.Table, epoch_id: int) -> None:
        import duckdb

        con = duckdb.connect(db_path)
        try:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {EPOCH_TABLE} "
                "(tbl VARCHAR, epoch_id BIGINT)"
            )
            con.execute("BEGIN")
            seen = con.execute(
                f"SELECT 1 FROM {EPOCH_TABLE} WHERE tbl = ? AND epoch_id = ?",
                [table, epoch_id],
            ).fetchone()
            if seen:
                con.execute("ROLLBACK")
                return
            con.register("_batch_df", batch)
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {table} AS "
                "SELECT * FROM _batch_df WHERE 1 = 0"
            )
            con.execute(f"INSERT INTO {table} SELECT * FROM _batch_df")
            con.execute(
                f"INSERT INTO {EPOCH_TABLE} VALUES (?, ?)", [table, epoch_id]
            )
            con.execute("COMMIT")
        finally:
            con.close()

    return _sink
