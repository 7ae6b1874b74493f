"""Streaming pipeline tests (SURVEY.md §5.5): trigger batching via
availableNow, checkpoint resume without reprocessing (O3), quarantine
side channel (O29), multi-sensor union (O30), report post-hook (O16/O17
analog: each batch reported exactly once via the checkpoint)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from takuan_spark.config import load_config
from takuan_spark.streaming import start_pipeline

YEAR = 2026

SSH_CHUNK_1 = (
    "Aug 13 06:15:01 host1 sshd[1234]: Authentication failed for invalid user admin from 203.0.113.7 port 22\n"
    "Aug 13 06:15:03 host1 sshd[1235]: Invalid user oracle from 198.51.100.23 port 22\n"
)
SSH_CHUNK_2 = (
    "Aug 14 07:00:00 host1 sshd[2001]: Invalid user test from 203.0.113.7 port 22\n"
)
SSH_BAD_DATETIME = (
    "Xxx 99 99:99:99 host1 sshd[3001]: Invalid user broken from 9.9.9.9 port 22\n"
)
HTTP_CHUNK_1 = (
    '203.0.113.7 - - [13/Aug/2026:06:20:11 +0000] "GET /index.php HTTP/1.1" 404 152 "-" "python-requests/2.31"\n'
)


@pytest.fixture()
def env(tmp_path):
    ssh = tmp_path / "ssh"
    http = tmp_path / "http"
    ssh.mkdir()
    http.mkdir()
    return {
        "paths": {"ssh": str(ssh), "http": str(http)},
        "ssh": ssh,
        "http": http,
        "events": str(tmp_path / "events"),
        "quarantine": str(tmp_path / "quarantine"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }


@pytest.fixture(scope="module")
def conf(config_path):
    return load_config(config_path, year=YEAR)


def _run(spark, conf, env, post_hook=None):
    q = start_pipeline(
        spark,
        conf,
        events_path=env["events"],
        quarantine_path=env["quarantine"],
        checkpoint_path=env["checkpoint"],
        paths=env["paths"],
        available_now=True,
        post_hook=post_hook,
    )
    q.awaitTermination(120)
    return q


def test_stream_drains_backlog_and_resumes(spark, conf, env):
    (env["ssh"] / "chunk1.log").write_text(SSH_CHUNK_1)
    (env["http"] / "chunk1.log").write_text(HTTP_CHUNK_1)
    _run(spark, conf, env)
    out = spark.read.parquet(env["events"])
    assert out.count() == 3
    assert {r["sensor"] for r in out.collect()} == {"ssh", "http"}

    # resume: only the new chunk is processed (checkpoint holds offsets)
    (env["ssh"] / "chunk2.log").write_text(SSH_CHUNK_2)
    _run(spark, conf, env)
    out2 = spark.read.parquet(env["events"])
    assert out2.count() == 4  # no duplicates from chunk1
    new = out2.where(F.col("payload").contains("sshd[2001]"))
    assert new.count() == 1
    # event date partitioning: two distinct partition values
    assert out2.select("event_date").distinct().count() == 2


def test_quarantine_side_channel(spark, conf, env):
    (env["ssh"] / "bad.log").write_text(SSH_CHUNK_1 + SSH_BAD_DATETIME)
    _run(spark, conf, env)
    good = spark.read.parquet(env["events"])
    bad = spark.read.parquet(env["quarantine"])
    assert good.count() == 2
    assert bad.count() == 1
    assert bad.head()["address"] == "9.9.9.9"
    assert bad.head()["created_at"] is None


def test_post_hook_reports_each_batch_once(spark, conf, env):
    calls: list[tuple[int, int]] = []

    def hook(df, epoch):
        calls.append((epoch, df.count()))

    (env["ssh"] / "chunk1.log").write_text(SSH_CHUNK_1)
    _run(spark, conf, env, post_hook=hook)
    total_first = sum(n for _, n in calls)
    assert total_first == 2

    # a second availableNow run with no new files must not re-report
    calls.clear()
    _run(spark, conf, env, post_hook=hook)
    assert sum(n for _, n in calls) == 0
