"""End-to-end test of the service CLI (``python -m takuan_spark``) —
the runnable analog of the reference binary (cmd/takuan/main.go):
config → streaming pipeline over chunked logs → events table + report
CSV + country summary on stdout, plus the ``--geo`` re-enrich batch
mode."""

from __future__ import annotations

import csv
import glob
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

import takuan_spark.__main__ as cli
import takuan_spark.streaming.pipeline as pipeline
from takuan_spark.__main__ import main
from takuan_spark.queries import REGISTRY, _load

CONFIG_TMPL = """
name: 'cli-test-node'
database:
  period: 5
reports:
  enabled: true
  period: 60
sensors:
- name: ssh
  filename: {ssh_dir}
  enabled: true
  parser:
    expression: '^(.+)\\s+.+\\s+sshd\\[\\d+\\]: (.+)\\s+(.+)\\s+port\\s+\\d+$'
    datetime_format: '2006 Jan _2 15:04:05'
    tokens:
      datetime: 1
      message: 2
      address: 3
  rules:
    - name: 'auth-failure'
      token: message
      expression: 'Authentication (failure|error|failed) for .+'
    - name: 'user-enumeration'
      token: message
      expression: '(Illegal|Invalid) user .+'
"""

AUTH_LINES = [
    "Aug 13 06:15:01 host1 sshd[1234]: Authentication failed for invalid user admin from 203.0.113.7 port 22",
    "Aug 13 06:15:03 host1 sshd[1235]: Invalid user oracle from 198.51.100.23 port 22",
    "Aug 13 06:15:04 host1 sshd[1236]: Authentication failure for Invalid user bob from 203.0.113.7 port 22",
    "Aug 13 06:15:07 host1 sshd[1237]: Accepted password for root from 10.0.0.1 port 22",
]


@pytest.fixture()
def cli_env(tmp_path):
    ssh = tmp_path / "ssh-chunks"
    ssh.mkdir()
    (ssh / "auth.log.1").write_text("\n".join(AUTH_LINES) + "\n")
    cfg = tmp_path / "takuan.yml"
    cfg.write_text(CONFIG_TMPL.format(ssh_dir=ssh))
    return {"cfg": str(cfg), "out": str(tmp_path / "out"), "tmp": tmp_path}


def test_cli_batch_mode_end_to_end(spark, cli_env, capsys):
    rc = main(["--config", cli_env["cfg"], "--out", cli_env["out"], "--batch"])
    assert rc == 0

    events = spark.read.parquet(f"{cli_env['out']}/events")
    rows = {(r["address"], r["rule"]) for r in events.collect()}
    # 3 rule-hit lines -> 3 events; first-match-wins on the double hit
    assert rows == {
        ("203.0.113.7", "auth-failure"),
        ("198.51.100.23", "user-enumeration"),
    }
    assert events.count() == 3

    # the report is a directory holding one part file, as Spark's CSV sink writes it
    parts = glob.glob(f"{cli_env['out']}/reports/address_report_*.csv/part-*.csv")
    assert parts, "report CSV not written"
    rep = pd.read_csv(parts[0])
    assert set(rep["address"]) == {"203.0.113.7", "198.51.100.23"}
    assert rep.loc[rep["address"] == "203.0.113.7", "total_events"].iloc[0] == 2

    # the reference's tweet text (with emoji flag fallback) on stdout
    out = capsys.readouterr().out
    assert "3 events:" in out


def test_cli_batch_mode_with_db_sink(spark, cli_env, capsys):
    import duckdb

    db = str(cli_env["tmp"] / "events.duckdb")
    rc = main(
        ["--config", cli_env["cfg"], "--out", cli_env["out"], "--batch", "--db", db]
    )
    assert rc == 0
    con = duckdb.connect(db)
    assert con.sql("SELECT COUNT(*) FROM events").fetchone()[0] == 3
    # rerun with the same checkpoint: no new batches, no duplicate rows
    con.close()
    rc = main(
        ["--config", cli_env["cfg"], "--out", cli_env["out"], "--batch", "--db", db]
    )
    assert rc == 0
    con = duckdb.connect(db)
    assert con.sql("SELECT COUNT(*) FROM events").fetchone()[0] == 3
    con.close()


def test_cli_batch_mode_with_jdbc_sink(spark, cli_env, capsys):
    url = f"jdbc:derby:{cli_env['tmp']}/jdbc_db;create=true"
    argv = [
        "--config", cli_env["cfg"], "--out", cli_env["out"], "--batch",
        "--jdbc-url", url,
    ]
    assert main(argv) == 0

    def count():
        return (
            spark.read.format("jdbc")
            .options(
                url=url, dbtable="events",
                driver="org.apache.derby.jdbc.EmbeddedDriver",
            )
            .load()
            .count()
        )

    assert count() == 3
    # rerun with the same checkpoint: no new batches, no duplicate rows
    assert main(argv) == 0
    assert count() == 3


def test_cli_one_epoch_drain_job_count(spark, cli_env, monkeypatch, capsys):
    """A one-epoch ``--batch`` drain with a DuckDB sink and a geo dim runs
    exactly 1 Spark job in its query's job group (the query's run id):
    the epoch's one Arrow collect, which the geo lookup, the parquet
    tables, the DuckDB sink and the report hook all read. The geo dim is
    collected once, before the query starts."""
    geo_csv = cli_env["tmp"] / "geo.csv"
    geo_csv.write_text("ip,country_code,country_name\n203.0.113.7,CN,China\n")
    queries = []
    start = pipeline.start_pipeline

    def keep(*args, **kwargs):
        queries.append(start(*args, **kwargs))
        return queries[-1]

    monkeypatch.setattr(pipeline, "start_pipeline", keep)
    rc = main(
        [
            "--config", cli_env["cfg"],
            "--out", cli_env["out"],
            "--batch",
            "--db", str(cli_env["tmp"] / "events.duckdb"),
            "--geo-dim", str(geo_csv),
        ]
    )
    assert rc == 0
    assert capsys.readouterr().out.startswith("3 events: 2 from")
    (query,) = queries
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    assert len(jobs) == 1


def test_cli_drain_compiles_generated_code_once(spark, cli_env, monkeypatch, capsys):
    """A three-epoch ``--batch`` drain with a DuckDB sink and a geo dim
    runs the same generated code in every epoch: after the first epoch,
    Spark's code generator compiles nothing."""
    ssh = cli_env["tmp"] / "ssh-chunks"
    for i in (2, 3):
        (ssh / f"auth.log.{i}").write_text("\n".join(AUTH_LINES) + "\n")
    geo_csv = cli_env["tmp"] / "geo.csv"
    geo_csv.write_text("ip,country_code,country_name\n203.0.113.7,CN,China\n")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()  # one count per compile
    counts = []
    report_hook = cli._report_hook

    def counting(*args, **kwargs):
        hook = report_hook(*args, **kwargs)

        def run(events, epoch_id: int) -> None:
            hook(events, epoch_id)
            counts.append(compiles.getCount())

        return run

    monkeypatch.setattr(pipeline, "MAX_EPOCH_BYTES", 1)
    monkeypatch.setattr(cli, "_report_hook", counting)
    rc = main(
        [
            "--config", cli_env["cfg"],
            "--out", cli_env["out"],
            "--batch",
            "--db", str(cli_env["tmp"] / "events.duckdb"),
            "--geo-dim", str(geo_csv),
        ]
    )
    assert rc == 0
    assert len(counts) == 3
    assert [c - counts[0] for c in counts] == [0, 0, 0]


def test_cli_repeated_geo_ip_fails_before_the_query_starts(spark, cli_env):
    """A geo dim that maps one ip twice would duplicate that ip's events
    (the reference makes one lookup per event): the service refuses it
    at start, naming the ip, and no checkpoint is made."""
    geo_csv = cli_env["tmp"] / "geo.csv"
    geo_csv.write_text(
        "ip,country_code,country_name\n"
        "203.0.113.7,CN,China\n198.51.100.23,US,United States\n"
        "203.0.113.7,JP,Japan\n"
    )
    argv = ["--config", cli_env["cfg"], "--out", cli_env["out"], "--batch",
            "--geo-dim", str(geo_csv)]
    with pytest.raises(ValueError, match=r"'203\.0\.113\.7'"):
        main(argv)
    assert not os.path.exists(f"{cli_env['out']}/checkpoint")


def test_cli_one_epoch_drain_writes_one_file_per_directory(spark, cli_env, capsys):
    """A one-epoch drain of three chunk files whose events span two
    dates, plus parse errors, writes exactly 2 + 1 parquet files: one per
    event date and one in quarantine, whatever the scan's task count."""
    ssh = cli_env["tmp"] / "ssh-chunks"
    for i in (2, 3):
        (ssh / f"auth.log.{i}").write_text("\n".join([
            "Aug 14 07:00:00 host1 sshd[2001]: Invalid user test from 192.0.2.5 port 22",
            "Xxx 99 99:99:99 host1 sshd[3001]: Invalid user broken from 9.9.9.9 port 22",
            *AUTH_LINES,
        ]) + "\n")
    rc = main(["--config", cli_env["cfg"], "--out", cli_env["out"], "--batch"])
    assert rc == 0
    assert capsys.readouterr().out.count("\n") == 1  # one epoch, one summary
    out = cli_env["out"]
    files = sorted(glob.glob(f"{out}/events/*/*.parquet") + glob.glob(f"{out}/quarantine/*"))
    assert [f[len(out):] for f in files] == [
        "/events/event_date=2026-08-13/epoch-0-0.parquet",
        "/events/event_date=2026-08-14/epoch-0-0.parquet",
        "/quarantine/epoch-0-0.parquet",
    ]
    assert spark.read.parquet(f"{out}/events").count() == 3 + 2 * 4
    assert spark.read.parquet(f"{out}/quarantine").count() == 2


def test_cli_batch_drain_is_bounded_per_epoch(spark, cli_env, monkeypatch, capsys):
    """A ``--batch`` drain of a backlog larger than ``MAX_EPOCH_BYTES``
    runs as several epochs (at least one file each), and every output
    still holds each event once: one report and one summary per epoch."""
    import duckdb

    ssh = cli_env["tmp"] / "ssh-chunks"
    for i in (2, 3):
        (ssh / f"auth.log.{i}").write_text("\n".join(AUTH_LINES) + "\n")
    monkeypatch.setattr(pipeline, "MAX_EPOCH_BYTES", 1)
    db = str(cli_env["tmp"] / "events.duckdb")
    rc = main(
        ["--config", cli_env["cfg"], "--out", cli_env["out"], "--batch", "--db", db]
    )
    assert rc == 0
    assert capsys.readouterr().out.splitlines() == [
        "3 events: 3 from \U0001F3F3 unknown..."] * 3
    assert spark.read.parquet(f"{cli_env['out']}/events").count() == 9
    con = duckdb.connect(db)
    assert con.sql("SELECT COUNT(*) FROM events").fetchone()[0] == 9
    con.close()
    reports = sorted(glob.glob(f"{cli_env['out']}/reports/address_report_*.csv"))
    assert [r[-10:] for r in reports] == ["000000.csv", "000001.csv", "000002.csv"]
    totals = [pd.read_csv(f"{r}/part-00000.csv")["total_events"].sum() for r in reports]
    assert totals == [3, 3, 3]


def test_cli_geo_batch_mode(spark, cli_env, capsys):
    rc = main(["--config", cli_env["cfg"], "--out", cli_env["out"], "--batch"])
    assert rc == 0
    geo_csv = cli_env["tmp"] / "geo.csv"
    geo_csv.write_text(
        "ip,country_code,country_name\n203.0.113.7,CN,China\n"
    )
    rc = main(
        [
            "--config", cli_env["cfg"],
            "--out", cli_env["out"],
            "--geo",
            "--geo-dim", str(geo_csv),
        ]
    )
    assert rc == 0
    events = spark.read.parquet(f"{cli_env['out']}/events")
    cc = {
        r["address"]: r["country_code"]
        for r in events.select("address", "country_code").distinct().collect()
    }
    assert cc["203.0.113.7"] == "CN"  # refreshed by the lookup
    assert cc["198.51.100.23"] is None  # no dim row -> left as-is


def test_cli_tail_mode_end_to_end(spark, cli_env, tmp_path, capsys):
    """--tail consumes each sensor filename as ONE live log file via the
    byte-offset filetail source; --batch drains and exits."""
    log = tmp_path / "single-auth.log"
    log.write_text("\n".join(AUTH_LINES) + "\n")
    cfg = tmp_path / "tail.yml"
    cfg.write_text(CONFIG_TMPL.format(ssh_dir=log))
    rc = main(
        [
            "--config", str(cfg),
            "--out", cli_env["out"],
            "--batch",
            "--tail",
        ]
    )
    assert rc == 0
    events = spark.read.parquet(f"{cli_env['out']}/events")
    assert events.count() == 3  # same three rule-matched lines as chunk mode
    assert {r["address"] for r in events.select("address").collect()} == {
        "203.0.113.7", "198.51.100.23",
    }


def test_cli_sql_mode(spark, tmp_path, capsys):
    rc = main(
        [
            "--sql",
            "SELECT r_name FROM region ORDER BY r_name LIMIT 2",
            "--tables",
            "/root/testdata/sf0.001",
            "--out",
            str(tmp_path / "none"),
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "r_name"
    assert out[1] == "AFRICA" and out[2] == "AMERICA"


def test_cli_sql_mode_requires_config_elsewhere(tmp_path):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["--batch", "--out", str(tmp_path)])


def test_cli_sql_mode_bad_tables_dir_is_clean_error(tmp_path, capsys):
    rc = main(
        ["--sql", "SELECT 1", "--tables", str(tmp_path / "nope"),
         "--out", str(tmp_path)]
    )
    assert rc == 2
    assert "not found" in capsys.readouterr().err


def test_cli_sql_mode_view_name_collision_is_error(spark, tmp_path, capsys):
    # "a-b.parquet" and "a_b.parquet" both sanitize to view a_b: the
    # session must refuse (silent last-wins shadowing would let a query
    # read the wrong table).
    tables = tmp_path / "tables"
    tables.mkdir()
    spark.range(1).write.parquet(str(tables / "a-b.parquet"))
    spark.range(2).write.parquet(str(tables / "a_b.parquet"))
    rc = main(
        ["--sql", "SELECT COUNT(*) AS n FROM a_b", "--tables",
         str(tables), "--out", str(tmp_path / "out")]
    )
    assert rc == 2
    err = capsys.readouterr().err
    assert "a_b" in err and "rename" in err


def test_cli_list_queries_prints_the_registry(capsys):
    assert main(["--list-queries"]) == 0
    names = [line.split("\t")[0] for line in capsys.readouterr().out.splitlines()]
    _load()
    assert names == sorted(REGISTRY)


def test_cli_list_queries_lists_only_the_service_queries():
    # A fresh interpreter: the zoo registers into the same REGISTRY once
    # any test in this session has imported it, but the CLI never does.
    _load()
    service = sorted(
        n for n, s in REGISTRY.items()
        if s.builder.__module__ == "takuan_spark.queries.takuan"
    )
    out = subprocess.run(
        [sys.executable, "-m", "takuan_spark", "--list-queries"],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    ).stdout
    assert [line.split("\t")[0] for line in out.splitlines()] == service
    assert len(service) == 10


def test_cli_query_mode_prints_the_builder_rows(spark, sf_dir, capsys):
    rc = main(["--query", "takuan_country_topk", "--sf-dir", sf_dir])
    assert rc == 0
    got = list(csv.reader(capsys.readouterr().out.splitlines()))
    df = REGISTRY["takuan_country_topk"].builder(spark, sf_dir)
    assert got == [df.columns] + [[str(v) for v in row] for row in df.collect()]
    assert len(got) > 1


@pytest.mark.parametrize(
    "argv",
    [
        ["--query", "no_such_query", "--sf-dir", "/nonexistent"],
        ["--query", "takuan_country_topk"],
    ],
    ids=["unknown_query", "missing_sf_dir"],
)
def test_cli_query_mode_errors_return_2(argv, capsys):
    assert main(argv) == 2
    captured = capsys.readouterr()
    assert captured.out == ""
    assert captured.err.startswith("error: ")
