"""Report publication side-effects (ref: core/reporter.go:120-207,
core/twitter.go:60-99).

The reference publishes each hourly report twice: a CSV dropped into a
local git working tree which is then add/commit/pushed
(reporter.go:124-197), and a short country summary posted to Twitter
with the report URL (twitter.go:82-99). Both are *driver-side side
effects over an already-aggregated top-k result* — they never touch
big data, so there is nothing to distribute: the Spark engine reduces
100 TB of events down to a report of a few hundred rows, and publication
is plain Python at the end of the ``foreachBatch`` hook.

This module supplies those side effects as plain functions over the
aggregated report:

- :func:`drop_report_csv` — the reference's CSV shape and filename
  (``report_<timestamp>.csv``, same 5-column header,
  reporter.go:136-144) written atomically (tmp + rename), in the RFC
  4180 dialect every report CSV uses (``sinks/writers.py:CSV_OPTIONS``).
- :func:`git_publish` — add/commit (optionally push) the dropped file
  with the reference's commit message
  (``"reporting N addresses, M total events"``, reporter.go:182).
- :func:`webhook_publisher` — the generalized form of the tweet: POST a
  JSON summary (the twitter.go:89 status text plus structured fields)
  to an HTTP endpoint via stdlib urllib. The service's report hook
  (``__main__._report_hook``) sends through it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import urllib.request
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from takuan_spark.operators.reports import REPORT_COLUMNS
from takuan_spark.sinks.writers import CSV_OPTIONS

_GIT_IDENT = ["-c", "user.name=takuan", "-c", "user.email=takuan@localhost"]


def _timestamp(now: datetime | None) -> str:
    # reporter.go:124 — time.Now().Format("2006-01-02T15:04:05-0700")
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y-%m-%dT%H:%M:%S%z")


def drop_report_csv(
    report: DataFrame, out_dir: str, *, now: datetime | None = None
) -> str:
    """Write the address report as ONE publishable CSV file (the
    reference's filename and 5-column header) and return its path.

    The report from ``operators/reports.py:address_report`` has one row
    per distinct attacker address — UNBOUNDED at scale — so it is never
    collected to the driver: a single output task streams the sorted
    result straight to disk (``coalesce(1)`` over the range-sorted
    report preserves the count-desc order), and the part file is then
    renamed into place (same filesystem, atomic for readers).
    """
    base = f"report_{_timestamp(now)}.csv"
    final = os.path.join(out_dir, base)
    os.makedirs(out_dir, exist_ok=True)
    staging = os.path.join(out_dir, f".{base}.staging")
    (
        report.select(*REPORT_COLUMNS)
        .coalesce(1)
        .write.mode("overwrite")
        .options(**CSV_OPTIONS)
        .csv(staging)
    )
    part = next(
        p
        for p in os.listdir(staging)
        if p.startswith("part-") and p.endswith(".csv")
    )
    os.replace(os.path.join(staging, part), final)
    shutil.rmtree(staging, ignore_errors=True)
    return final


def git_publish(
    report_file: str, *, push: bool = False, n_addresses: int, n_events: int
) -> str:
    """Add + commit ``report_file`` into the git working tree containing
    it, with the reference's commit message (reporter.go:182); push only
    on request (the reference always pushes; a remote is deployment
    config, not engine behavior). Returns the commit message."""
    repo_dir = os.path.dirname(os.path.abspath(report_file))
    base = os.path.basename(report_file)
    msg = f"reporting {n_addresses} addresses, {n_events} total events"
    subprocess.run(
        ["git", "-C", repo_dir, "add", base], check=True, capture_output=True
    )
    subprocess.run(
        ["git", "-C", repo_dir, *_GIT_IDENT, "commit", "-m", msg],
        check=True,
        capture_output=True,
    )
    if push:  # pragma: no cover - needs a configured remote
        subprocess.run(
            ["git", "-C", repo_dir, "push"], check=True, capture_output=True
        )
    return msg


def webhook_publisher(
    url: str, *, timeout: float = 10.0
) -> Callable[[dict], None]:
    """POST a JSON report summary to ``url`` — the tweet generalized
    (twitter.go:82-99: short text + report URL; here the text plus the
    structured fields it was formatted from)."""

    def publish(payload: dict) -> None:
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        urllib.request.urlopen(req, timeout=timeout).read()

    return publish

