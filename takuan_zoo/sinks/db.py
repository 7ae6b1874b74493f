"""Zoo-only DuckDB sink: the update-mode upsert sink the zoo's
streaming queries land in. The service's exactly-once DuckDB sink lives
in ``takuan_spark.sinks.db``.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame

UPSERT_EPOCH_TABLE = "_upsert_epochs"


def duckdb_upsert_sink(
    db_path: str, table: str, key_cols: list[str], stage_dir: str
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` UPSERT sink for **update output mode** — the
    live-dashboard shape: each micro-batch carries the REVISED aggregate
    rows for every key updated in that batch, and the sink MERGEs them
    by key (delete-then-insert inside one transaction — DuckDB 1.0 has
    no ``MERGE INTO``; the two statements are its exact set-oriented
    equivalent), so the table always holds the latest value per key.

    Exactly-once by staging: executors write the batch as parquet under
    ``stage_dir/epoch=<id>/``, the DB ingests the staged files itself
    (``read_parquet``), and a per-epoch registry row commits in the same
    transaction; the stage is removed after the commit. The registry
    also records ``n_rows`` per epoch, so a caller can assert the
    update-mode contract — intermediate emissions happened (>= 2
    non-empty epochs) and keys were re-emitted with revised values (sum
    of emitted rows exceeds the final key count) — from the sink's own
    bookkeeping rather than engine progress events. Idempotent under BOTH replay paths: a
    registered epoch is skipped outright, and an unregistered replay
    re-stages and re-merges to the same final state (upsert of the
    same revision is a no-op).
    """

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        import duckdb

        epoch_dir = os.path.join(stage_dir, f"epoch={epoch_id}")
        con = duckdb.connect(db_path)
        try:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {UPSERT_EPOCH_TABLE} "
                "(tbl VARCHAR, epoch_id BIGINT, n_rows BIGINT)"
            )
            seen = con.execute(
                f"SELECT 1 FROM {UPSERT_EPOCH_TABLE} "
                "WHERE tbl = ? AND epoch_id = ?",
                [table, epoch_id],
            ).fetchone()
            if seen:
                shutil.rmtree(epoch_dir, ignore_errors=True)
                return
            batch.write.mode("overwrite").parquet(epoch_dir)
            glob = os.path.join(epoch_dir, "*.parquet")
            import glob as _glob

            if not _glob.glob(glob):
                con.execute(
                    f"INSERT INTO {UPSERT_EPOCH_TABLE} VALUES (?, ?, 0)",
                    [table, epoch_id],
                )
                shutil.rmtree(epoch_dir, ignore_errors=True)
                return
            con.execute("BEGIN")
            seen = con.execute(
                f"SELECT 1 FROM {UPSERT_EPOCH_TABLE} "
                "WHERE tbl = ? AND epoch_id = ?",
                [table, epoch_id],
            ).fetchone()
            if seen:
                con.execute("ROLLBACK")
                shutil.rmtree(epoch_dir, ignore_errors=True)
                return
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {table} AS "
                f"SELECT * FROM read_parquet('{glob}') WHERE 1 = 0"
            )
            match = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            con.execute(
                f"DELETE FROM {table} t "
                f"USING read_parquet('{glob}') s WHERE {match}"
            )
            n = con.execute(
                f"INSERT INTO {table} "
                f"SELECT * FROM read_parquet('{glob}')"
            ).fetchone()
            con.execute(
                f"INSERT INTO {UPSERT_EPOCH_TABLE} VALUES (?, ?, ?)",
                [table, epoch_id, int(n[0]) if n else 0],
            )
            con.execute("COMMIT")
            shutil.rmtree(epoch_dir, ignore_errors=True)
        finally:
            con.close()

    return _sink
