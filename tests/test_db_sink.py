"""Streaming → DuckDB exactly-once sink tests (O15/O17): batches land in
a real transactional DB table once each, replays are no-ops."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from takuan_spark.plans.compiler import EVENT_COLUMNS
from takuan_spark.sinks.db import EPOCH_TABLE, duckdb_exactly_once_sink


@pytest.fixture()
def env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "db": str(tmp_path / "events.duckdb"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _write_chunk(path, n, offset=0):
    pdf = pd.DataFrame(
        {
            "address": [f"10.0.0.{i % 5}" for i in range(offset, offset + n)],
            "rule": ["auth-failure"] * n,
        }
    )
    pdf.to_parquet(path)


def _drain(spark, env):
    stream = spark.readStream.schema("address string, rule string").parquet(
        str(env["src"])
    )
    sink = duckdb_exactly_once_sink(env["db"], "events")
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, epoch_id: sink(batch.toArrow(), epoch_id)
        )
        .option("checkpointLocation", env["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_batches_land_exactly_once_across_restarts(spark, env):
    _write_chunk(env["src"] / "c1.parquet", 20)
    _drain(spark, env)
    con = duckdb.connect(env["db"])
    assert con.sql("SELECT COUNT(*) FROM events").fetchone()[0] == 20
    con.close()

    # restart with no new data: no new epochs with rows, no duplicates
    _drain(spark, env)
    # second chunk: only the delta lands
    _write_chunk(env["src"] / "c2.parquet", 15, offset=100)
    _drain(spark, env)
    con = duckdb.connect(env["db"])
    assert con.sql("SELECT COUNT(*) FROM events").fetchone()[0] == 35
    con.close()


def test_replayed_epoch_is_skipped(spark, env):
    """Simulate the crash-between-sink-and-checkpoint replay: the same
    (batch, epoch_id) delivered twice must insert once."""
    sink = duckdb_exactly_once_sink(env["db"], "events")
    batch = spark.createDataFrame(
        [("1.1.1.1", "r"), ("2.2.2.2", "r")], "address string, rule string"
    ).toArrow()
    sink(batch, 7)
    sink(batch, 7)  # replay
    sink(batch, 8)  # genuinely new epoch
    con = duckdb.connect(env["db"])
    assert con.sql("SELECT COUNT(*) FROM events").fetchone()[0] == 4
    epochs = con.sql(
        f"SELECT epoch_id FROM {EPOCH_TABLE} ORDER BY epoch_id"
    ).fetchall()
    con.close()
    assert [e[0] for e in epochs] == [7, 8]


EVENT_SCHEMA = ", ".join(
    f"{c} timestamp" if c in ("created_at", "detected_at", "reported_at")
    else f"{c} string"
    for c in EVENT_COLUMNS
)


def _event(address, country=(None, None)):
    import datetime as dt

    t = dt.datetime(2026, 8, 13, 6, 15)
    return (t, t, "node", address, *country, "ssh", "auth-failure",
            "line", None)


def _land_after(spark, env, first):
    """Deliver ``first`` as epoch 0, then one geo-hit event as epoch 1;
    return the table's column types and row count."""
    sink = duckdb_exactly_once_sink(env["db"], "events")
    sink(spark.createDataFrame(first, EVENT_SCHEMA).toArrow(), 0)
    sink(spark.createDataFrame([_event("1.1.1.1", ("CN", "China"))],
                               EVENT_SCHEMA).toArrow(), 1)
    con = duckdb.connect(env["db"])
    try:
        types = dict(con.execute(
            "SELECT column_name, data_type FROM information_schema.columns "
            "WHERE table_name = 'events'").fetchall())
        n = con.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    finally:
        con.close()
    return types, n


def test_empty_first_epoch_keeps_table_types(spark, env):
    """A first micro-batch with no rows must not create an untyped table
    that rejects every later epoch (the replay would fail the same way,
    so the stream could never advance)."""
    types, n = _land_after(spark, env, [])
    assert n == 1
    assert types["address"] == types["country_code"] == "VARCHAR"


def test_geo_less_first_epoch_keeps_string_columns(spark, env):
    """A first micro-batch whose country columns are all null (no address
    in the geo dimension) must still create them as strings, so the
    first geo hit lands."""
    types, n = _land_after(spark, env, [_event("2.2.2.2"), _event("3.3.3.3")])
    assert n == 3
    assert types["country_code"] == types["country_name"] == "VARCHAR"


def test_pipeline_lands_exactly_once_across_restarts(spark, env, tmp_path,
                                                     config_path):
    """The service's sink chain (split_sink, then the DuckDB sink as its
    post hook) across restarts: a restart with no data is a no-op,
    deltas land once in events, quarantine and DuckDB, and no stage or
    temp file is left behind."""
    import glob

    from takuan_spark.config import load_config
    from takuan_spark.streaming import start_pipeline

    ssh = tmp_path / "ssh"
    ssh.mkdir()
    out = tmp_path / "out"
    conf = load_config(config_path, year=2026)

    def drain():
        q = start_pipeline(
            spark, conf,
            events_path=str(out / "events"),
            quarantine_path=str(out / "quarantine"),
            checkpoint_path=env["ckpt"],
            paths={"ssh": str(ssh), "http": str(tmp_path / "no-http")},
            available_now=True,
            post_hook=duckdb_exactly_once_sink(env["db"], "events"),
        )
        q.awaitTermination(120)

    (tmp_path / "no-http").mkdir()
    (ssh / "c1.log").write_text(
        "Aug 13 06:15:01 host1 sshd[1]: Invalid user a from 10.0.0.1 port 22\n"
        "Aug 14 06:15:01 host1 sshd[2]: Invalid user b from 10.0.0.2 port 22\n"
        "Xxx 99 99:99:99 host1 sshd[3]: Invalid user c from 10.0.0.3 port 22\n"
    )
    drain()
    drain()  # restart, no new data
    (ssh / "c2.log").write_text(
        "Aug 14 07:00:00 host1 sshd[4]: Invalid user d from 10.0.0.4 port 22\n"
    )
    drain()
    assert spark.read.parquet(str(out / "events")).count() == 3
    assert spark.read.parquet(str(out / "quarantine")).count() == 1
    con = duckdb.connect(env["db"])
    assert con.sql("SELECT COUNT(*) FROM events").fetchone()[0] == 3
    con.close()
    assert not (out / "events" / "_staging").exists()
    hidden = glob.glob(str(out / "events" / "*" / ".*"))
    assert hidden + glob.glob(str(out / "quarantine" / ".*")) == []
