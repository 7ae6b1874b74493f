"""JDBC sink/source over Spark's DataFrameWriter/Reader JDBC path.

The reference lands events in MySQL: connect + auto-migrate at startup
(ref: core/aggregator.go:159-171), then a per-row INSERT flush loop the
author marks "SLOW" (core/aggregator.go:77-88, 219-225). The Spark-native
replacement is set-oriented ``df.write.jdbc`` — one prepared-statement
batch per partition, executor-parallel (one connection per partition).

Tested here against the **embedded Derby** driver that ships in Spark's
own jars directory; against MySQL/Postgres only the URL and driver class
change. Three surfaces:

- :func:`write_jdbc` — batch append with the knobs that matter at scale
  (``batchsize`` rows per JDBC batch, ``numPartitions`` as a connection
  cap so a 1000-task stage doesn't open 1000 connections).
- :func:`read_jdbc_partitioned` — parallel partitioned read: Spark turns
  (partitionColumn, lowerBound, upperBound, numPartitions) into N range
  predicates and scans them concurrently. A plain ``read.jdbc`` is a
  single connection on one executor — useless for a big table.
- :func:`jdbc_exactly_once_sink` — ``foreachBatch`` sink with the
  staging-table + transactional-promote protocol: the executor-parallel
  write lands in a per-epoch staging table, then ONE driver-side
  transaction promotes it into the target and records the epoch guard.
  A replayed epoch (Structured Streaming re-delivers a failed batch with
  the same ``epoch_id``) finds its guard row and skips; a crash between
  staging and promote leaves the target untouched. This is the canonical
  exactly-once JDBC pattern — the DuckDB sink in ``sinks/db.py`` keeps
  the same epoch guard in-process, and the parquet tables name their
  files by epoch instead (``sinks/writers.py:write_epoch``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

#: Guard table: one row per delivered (target table, epoch).
EPOCH_TABLE = "sink_epochs"


def derby_url(db_dir: str, *, create: bool = True) -> str:
    """JDBC URL for an embedded Derby database at ``db_dir``."""
    suffix = ";create=true" if create else ""
    return f"jdbc:derby:{db_dir}{suffix}"


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    driver: str = DERBY_DRIVER,
    batchsize: int = 1000,
    num_partitions: int | None = None,
    isolation_level: str | None = None,
) -> None:
    """Set-oriented JDBC append (the reference's flush loop, without the
    per-row INSERTs).

    ``batchsize`` controls rows per ``executeBatch`` round-trip;
    ``num_partitions`` coalesces before the write so the connection count
    is bounded regardless of upstream parallelism — at cluster scale an
    unbounded fan-in is how you take down the target DB.
    """
    out = df.coalesce(num_partitions) if num_partitions else df
    w = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", batchsize)
    )
    if isolation_level:
        w = w.option("isolationLevel", isolation_level)
    w.mode(mode).save()


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    driver: str = DERBY_DRIVER,
) -> DataFrame:
    """Parallel partitioned JDBC scan: ``num_partitions`` concurrent range
    queries over ``partition_column`` instead of one serial cursor.

    Bounds only shape the split points — rows outside them still arrive
    (in the edge partitions), so this never silently drops data.
    """
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("partitionColumn", partition_column)
        .option("lowerBound", lower_bound)
        .option("upperBound", upper_bound)
        .option("numPartitions", num_partitions)
        .load()
    )


def _driver_connection(spark: SparkSession, url: str, driver: str):
    """Open a driver-side JDBC connection through the JVM gateway."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(url)


def _table_exists(conn, table: str) -> bool:
    rs = conn.getMetaData().getTables(None, None, table.upper(), None)
    try:
        return rs.next()
    finally:
        rs.close()


def jdbc_exactly_once_sink(
    url: str,
    table: str,
    *,
    driver: str = DERBY_DRIVER,
    batchsize: int = 1000,
    num_partitions: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink delivering each epoch into ``table`` exactly
    once via staging + transactional promote (module docstring has the
    protocol; ref contrast: core/aggregator.go:77-88 at-least-once
    row-at-a-time flush with no replay guard).
    """

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        staging = f"{table}_stage_{epoch_id}"
        conn = _driver_connection(spark, url, driver)
        try:
            conn.setAutoCommit(True)
            st = conn.createStatement()
            if not _table_exists(conn, EPOCH_TABLE):
                st.execute(
                    f"CREATE TABLE {EPOCH_TABLE} ("
                    "tbl VARCHAR(128) NOT NULL, "
                    "epoch_id BIGINT NOT NULL, "
                    f"PRIMARY KEY (tbl, epoch_id))"
                )
            rs = st.executeQuery(
                f"SELECT 1 FROM {EPOCH_TABLE} "
                f"WHERE tbl = '{table}' AND epoch_id = {int(epoch_id)}"
            )
            delivered = rs.next()
            rs.close()
            if delivered:
                # replayed epoch — already promoted. A crash between
                # COMMIT and the post-promote DROP leaves the staging
                # table behind; this is the only path that ever sees
                # that state, so clean it up here.
                if _table_exists(conn, staging):
                    st.execute(f"DROP TABLE {staging}")
                return

            # 1. Executor-parallel write into the per-epoch staging table.
            #    Overwrite: a replay that crashed mid-staging re-lands it.
            if _table_exists(conn, staging):
                st.execute(f"DROP TABLE {staging}")
            write_jdbc(
                batch, url, staging,
                mode="append", driver=driver,
                batchsize=batchsize, num_partitions=num_partitions,
            )

            # 2. Auto-migrate the target from the staging schema
            #    (the reference's AutoMigrate, core/aggregator.go:165-169).
            if not _table_exists(conn, table):
                st.execute(
                    f"CREATE TABLE {table} AS SELECT * FROM {staging} "
                    "WITH NO DATA"
                )

            # 3. ONE transaction: promote + guard. Crash before COMMIT
            #    rolls back both; the replay redoes staging and retries.
            conn.setAutoCommit(False)
            st.execute(f"INSERT INTO {table} SELECT * FROM {staging}")
            st.execute(
                f"INSERT INTO {EPOCH_TABLE} VALUES "
                f"('{table}', {int(epoch_id)})"
            )
            conn.commit()
            conn.setAutoCommit(True)
            st.execute(f"DROP TABLE {staging}")
            st.close()
        finally:
            conn.close()

    return _sink
