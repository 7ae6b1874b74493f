"""The true byte-offset file-tail source (O1/O2/O3, ref
core/sensor.go:42-123): complete-line semantics, truncation reset, and
checkpointed offset resume — the reference sensor's exact contract as a
native Spark streaming source.
"""

from __future__ import annotations

import uuid

import pytest

from takuan_spark.sources.tail_source import register_filetail


AUTH_LINES = [
    "Aug 13 06:15:01 host1 sshd[1234]: Authentication failed for invalid "
    "user admin from 203.0.113.7 port 22",
    "Aug 13 06:15:03 host1 sshd[1235]: Invalid user oracle from "
    "198.51.100.23 port 22",
]


@pytest.fixture()
def tailed(tmp_path):
    log = tmp_path / "app.log"
    log.write_text("")
    return {
        "log": log,
        "ckpt": str(tmp_path / "ckpt"),
    }


def _start(spark, env, name):
    register_filetail(spark)
    stream = (
        spark.readStream.format("filetail")
        .option("path", str(env["log"]))
        .load()
    )
    return (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", env["ckpt"])
        .trigger(processingTime="0 seconds")
        .start()
    )


def test_tail_reads_complete_lines_and_holds_partials(spark, tailed):
    name = f"tail_{uuid.uuid4().hex[:8]}"
    with open(tailed["log"], "w") as fh:
        fh.write("line one\nline two\npart")  # third line incomplete
    q = _start(spark, tailed, name)
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name} ORDER BY byte_offset").collect()
        assert [r["value"] for r in rows] == ["line one", "line two"]
        assert [r["byte_offset"] for r in rows] == [0, 9]
        # the partial line completes, plus one more
        with open(tailed["log"], "a") as fh:
            fh.write("ial done\nline four\n")
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {name} ORDER BY byte_offset").collect()
        assert [r["value"] for r in rows] == [
            "line one", "line two", "partial done", "line four",
        ]
        # offsets are contiguous byte positions
        assert rows[2]["byte_offset"] == 18
    finally:
        q.stop()


def test_tail_truncation_resets_to_zero(spark, tailed):
    name = f"tail_{uuid.uuid4().hex[:8]}"
    with open(tailed["log"], "w") as fh:
        fh.write("old a\nold b\n")
    q = _start(spark, tailed, name)
    try:
        q.processAllAvailable()
        assert spark.sql(f"SELECT COUNT(*) c FROM {name}").head()["c"] == 2
        # log rotation: file truncated, new content shorter than offset
        with open(tailed["log"], "w") as fh:
            fh.write("new 1\n")
        q.processAllAvailable()
        rows = spark.sql(
            f"SELECT value, byte_offset FROM {name}"
        ).collect()
        vals = [(r["value"], r["byte_offset"]) for r in rows]
        assert ("new 1", 0) in vals  # restarted from byte 0 (O2)
        assert len(vals) == 3
    finally:
        q.stop()


def test_tail_rotation_to_larger_file_resets(spark, tailed):
    """Rotate-and-recreate where the NEW file is already larger than the
    old offset: a size check alone would misread this as an append and
    emit from mid-file; the inode identity in the offset catches it."""
    name = f"tail_{uuid.uuid4().hex[:8]}"
    with open(tailed["log"], "w") as fh:
        fh.write("aa\nbb\n")  # offset will be 6
    q = _start(spark, tailed, name)
    try:
        q.processAllAvailable()
        # rotate: unlink + recreate (new inode), new content LONGER
        # than the committed offset
        import os

        os.unlink(tailed["log"])
        with open(tailed["log"], "w") as fh:
            fh.write("fresh line one\nfresh line two\n")
        q.processAllAvailable()
        rows = spark.sql(
            f"SELECT value, byte_offset FROM {name} ORDER BY byte_offset"
        ).collect()
        vals = [(r["value"], r["byte_offset"]) for r in rows]
        assert ("fresh line one", 0) in vals  # reset to byte 0, not mid-file
        assert ("fresh line two", 15) in vals
        assert len(vals) == 4
    finally:
        q.stop()


def test_tail_resumes_from_checkpoint_without_duplicates(spark, tailed, tmp_path):
    """Restart against the same checkpoint reads only new bytes (O3) —
    the memory sink cannot recover, so this uses the parquet sink."""
    out = str(tmp_path / "out")

    def _start_parquet():
        register_filetail(spark)
        return (
            spark.readStream.format("filetail")
            .option("path", str(tailed["log"]))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", tailed["ckpt"])
            .trigger(processingTime="0 seconds")
            .start()
        )

    with open(tailed["log"], "w") as fh:
        fh.write("first\nsecond\n")
    q = _start_parquet()
    q.processAllAvailable()
    q.stop()
    with open(tailed["log"], "a") as fh:
        fh.write("third\n")
    q2 = _start_parquet()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(out).orderBy("byte_offset").collect()
    assert [r["value"] for r in rows] == ["first", "second", "third"]


def test_pipeline_runs_over_tailed_live_file(spark, tmp_path, config_path):
    """The full parse→rules→enrich pipeline consumes a single live
    appended log file through the filetail source (the reference
    sensor's exact shape: one file, byte offsets, live appends)."""
    from takuan_spark.config import load_config
    from takuan_spark.streaming.pipeline import compile_stream, split_sink

    log = tmp_path / "auth.log"
    log.write_text(AUTH_LINES[0] + "\n")
    conf = load_config(config_path, year=2026)
    conf = type(conf)(
        node_name=conf.node_name,
        year=conf.year,
        flush_period_secs=conf.flush_period_secs,
        sensors=[s for s in conf.sensors if s.name == "ssh"],
    )
    events = compile_stream(
        spark, conf, paths={"ssh": str(log)}, tail_files=True
    )
    q = (
        events.writeStream.foreachBatch(
            split_sink(
                str(tmp_path / "events"), str(tmp_path / "quarantine")
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # live append while the query runs
        with open(log, "a") as fh:
            fh.write(AUTH_LINES[1] + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(str(tmp_path / "events"))
    addrs = {r["address"] for r in got.select("address").collect()}
    assert addrs == {"203.0.113.7", "198.51.100.23"}
