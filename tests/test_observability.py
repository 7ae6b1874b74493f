"""Observed-metrics tests: parse-quality counts ride the existing
action (batch Observation and streaming progress events) — no second
scan over the data or the quarantine output."""

from __future__ import annotations

from takuan_spark.config import load_config
from takuan_spark.observability import (
    observe_batch_quality,
    observe_stream_quality,
)
from takuan_spark.plans.compiler import compile_sensor

YEAR = 2026

GOOD = (
    "Aug 13 06:15:01 host1 sshd[1234]: Authentication failed for invalid "
    "user admin from 203.0.113.7 port 22\n"
)
BAD = (
    "Xxx 99 99:99:99 host1 sshd[3001]: Invalid user broken from 9.9.9.9 "
    "port 22\n"
)


def _sensor(config_path):
    conf = load_config(config_path, year=YEAR)
    return conf, next(s for s in conf.enabled_sensors() if s.name == "ssh")


def test_batch_observation_counts_quarantine(spark, tmp_path, config_path):
    conf, ssh = _sensor(config_path)
    log = tmp_path / "auth.log"
    log.write_text(GOOD * 3 + BAD)
    lines = spark.read.text(str(log))
    events = compile_sensor(
        lines, ssh, node_name=conf.node_name, year=conf.year, quarantine=True
    )
    observed, obs = observe_batch_quality(events)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["rows_total"] == 4
    assert got["rows_quarantined"] == 1


def test_stream_progress_carries_quality_metrics(spark, tmp_path, config_path):
    conf, ssh = _sensor(config_path)
    src = tmp_path / "ssh"
    src.mkdir()
    (src / "auth.log").write_text(GOOD * 2 + BAD)
    lines = spark.readStream.text(str(src))
    events = compile_sensor(
        lines, ssh, node_name=conf.node_name, year=conf.year, quarantine=True
    )
    observed = observe_stream_quality(events)
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = None
    for p in q.recentProgress:
        # observedMetrics values arrive as Row objects, not dicts
        m = (p.get("observedMetrics") or {}).get("parse_quality")
        if m is not None and m["rows_total"]:
            metrics = m
    assert metrics is not None
    assert metrics["rows_total"] == 3
    assert metrics["rows_quarantined"] == 1
