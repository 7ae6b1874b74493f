"""Report publication (ref: core/reporter.go:120-207 git drop,
core/twitter.go:82-99 status post) and the service's per-epoch report
hook that posts the status."""

from __future__ import annotations

import csv
import glob
import http.server
import json
import socket
import subprocess
import threading

import pytest

from takuan_spark.__main__ import _report_hook
from takuan_spark.sinks.publish import (
    REPORT_COLUMNS,
    drop_report_csv,
    git_publish,
)


@pytest.fixture()
def events(spark):
    rows = [
        ("203.0.113.7", "CN", "China", "ssh", "auth-failure"),
        ("203.0.113.7", "CN", "China", "ssh", "auth-failure"),
        ("203.0.113.7", "CN", "China", "http", "php_files_scan"),
        ("198.51.100.23", None, None, "ssh", "user-enumeration"),
    ]
    return spark.createDataFrame(
        rows, "address string, country_code string, country_name string, "
        "sensor string, rule string"
    )


def test_drop_report_csv_shape(spark, events, tmp_path):
    from takuan_spark.operators.reports import address_report

    path = drop_report_csv(address_report(events), str(tmp_path))
    with open(path) as fp:
        rows = list(csv.reader(fp))
    assert rows[0] == REPORT_COLUMNS
    # sorted by total_events desc; reference counters encoding
    assert rows[1][0] == "203.0.113.7"
    assert rows[1][3] == "3"
    assert rows[1][4] == "http/php_files_scan:1|ssh/auth-failure:2"
    assert rows[2][0] == "198.51.100.23"
    assert not path.endswith(".tmp")


def test_git_publish_commits_with_reference_message(spark, events, tmp_path):
    from takuan_spark.operators.reports import address_report

    repo = tmp_path / "reports-repo"
    repo.mkdir()
    subprocess.run(["git", "-C", str(repo), "init", "-q"], check=True)
    path = drop_report_csv(address_report(events), str(repo))
    git_publish(path, n_addresses=2, n_events=4)
    log = subprocess.run(
        ["git", "-C", str(repo), "log", "--format=%s", "-1"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert log == "reporting 2 addresses, 4 total events"
    clean = subprocess.run(
        ["git", "-C", str(repo), "status", "--porcelain"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert clean == ""


@pytest.fixture()
def webhook():
    """A live local HTTP endpoint; yields (url, received payloads)."""
    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append(json.loads(body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_port}/report", received
    finally:
        srv.shutdown()
        srv.server_close()


def test_report_hook_posts_webhook_summary(spark, events, tmp_path, webhook, capsys):
    url, received = webhook
    _report_hook(str(tmp_path), url)(events.toArrow(), 7)

    printed = capsys.readouterr().out.strip()
    assert printed.startswith("4 events:")
    assert received == [{"epoch_id": 7, "n_events": 4, "status": printed}]
    assert glob.glob(f"{tmp_path}/address_report_000007.csv/part-*.csv")


def test_report_hook_empty_batch_posts_and_prints_nothing(
    spark, events, tmp_path, webhook, capsys
):
    url, received = webhook
    _report_hook(str(tmp_path), url)(events.where("address = 'none'").toArrow(), 8)

    assert capsys.readouterr().out == ""
    assert received == []
    assert not glob.glob(f"{tmp_path}/address_report_*")


def test_report_hook_survives_webhook_outage(spark, events, tmp_path, capsys):
    # a port nothing listens on: the send raises URLError (connection
    # refused), which must not escape into foreachBatch and fail the query
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    _report_hook(str(tmp_path), f"http://127.0.0.1:{port}/report")(events.toArrow(), 3)

    captured = capsys.readouterr()
    assert captured.out.startswith("4 events:")
    assert "webhook failed for epoch 3" in captured.err
    parts = glob.glob(f"{tmp_path}/address_report_000003.csv/part-*.csv")
    assert len(parts) == 1
    with open(parts[0]) as fp:
        rows = list(csv.reader(fp))
    assert rows[1][:4] == ["203.0.113.7", "CN", "China", "3"]
