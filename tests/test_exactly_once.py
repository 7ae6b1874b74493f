"""Every service output is exactly-once when an epoch is replayed
(O15/O17/O29): the service is made to fail once at a point inside
``foreachBatch``, rerun on the same checkpoint, and its events,
quarantine, DuckDB and report outputs must hold each epoch once. The
faults patch module attributes (or ``os.replace``) in place, so
``main`` wires the service it always wires."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import duckdb
import pytest
from pyspark.sql import functions as F

import takuan_spark.__main__ as cli
from takuan_spark.sinks import db
from takuan_spark.streaming.pipeline import split_sink

CONFIG_TMPL = """
name: 'fault-test-node'
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

# epoch 0: 3 events over two dates, 1 quarantined, 1 without a rule hit
CHUNK_0 = [
    "Aug 13 06:15:01 host1 sshd[1234]: Authentication failed for invalid user admin from 203.0.113.7 port 22",
    "Aug 14 07:00:00 host1 sshd[2001]: Invalid user test from 203.0.113.7 port 22",
    "Aug 13 06:15:03 host1 sshd[1235]: Invalid user oracle from 198.51.100.23 port 22",
    "Xxx 99 99:99:99 host1 sshd[3001]: Invalid user broken from 9.9.9.9 port 22",
    "Aug 13 06:15:07 host1 sshd[1237]: Accepted password for root from 10.0.0.1 port 22",
]
# epoch 1: 2 events (one into a date epoch 0 also wrote), 1 quarantined
CHUNK_1 = [
    "Aug 15 08:00:00 host1 sshd[4001]: Invalid user guest from 192.0.2.5 port 22",
    "Aug 13 09:00:00 host1 sshd[4002]: Authentication failure for root from 192.0.2.5 port 22",
    "Yyy 99 99:99:99 host1 sshd[4003]: Invalid user broken from 9.9.9.9 port 22",
]

BATCH_SCHEMA = "created_at timestamp, address string, _parse_error boolean"


class InjectedFault(RuntimeError):
    pass


def _failing_once(factory, *, before: bool):
    """Wrap a sink/hook factory so the first call of what it builds
    raises, before or after the real call."""
    fired = []

    def fire() -> None:
        if not fired:
            fired.append(True)
            raise InjectedFault("injected fault")

    def make(*args, **kwargs):
        inner = factory(*args, **kwargs)

        def run(batch, epoch_id: int) -> None:
            if before:
                fire()
            inner(batch, epoch_id)
            if not before:
                fire()

        return run

    return make


def _fail_factory(module, attr: str, *, before: bool):
    """Fault installer: the first sink or hook ``module.attr`` builds
    raises once, before or after its real call."""

    def install(m) -> None:
        m.setattr(module, attr, _failing_once(getattr(module, attr), before=before))

    return install


def _fail_os(name: str, hit, *, nth: int = 1):
    """Fault installer: ``os.<name>(src, dst)`` raises instead of acting on
    the ``nth`` call for which ``hit(dst)`` holds."""

    def install(m) -> None:
        real, hits = getattr(os, name), []

        def patched(src, dst, *args, **kwargs):
            if hit(dst):
                hits.append(dst)
                if len(hits) == nth:
                    raise InjectedFault("injected fault")
            return real(src, dst, *args, **kwargs)

        m.setattr(os, name, patched)

    return install


#: where epoch 1 fails; each entry installs its fault on a monkeypatch
FAULTS = {
    # after the parquet publish, before the DuckDB transaction
    "before_db_sink": _fail_factory(db, "duckdb_exactly_once_sink", before=True),
    # after the DuckDB commit
    "after_db_commit": _fail_factory(db, "duckdb_exactly_once_sink", before=False),
    # after the report CSV, before the checkpoint commit
    "in_report_hook": _fail_factory(cli, "_report_hook", before=False),
    # the report CSV is written but not yet renamed into place
    "report_csv_rename": _fail_os(
        "replace", lambda dst: "address_report_000001" in dst),
    # epoch 1 spans two event dates and the quarantine, one file each:
    # the first is renamed into place, the second is not
    "between_publish_renames": _fail_os(
        "replace", lambda dst: os.path.basename(dst).startswith("epoch-1-"), nth=2),
    # epoch 1's first file is written under its hidden temp name, then
    # the rename fails: the temp file is left behind
    "temp_written_not_renamed": _fail_os(
        "replace", lambda dst: os.path.basename(dst).startswith("epoch-1-")),
}

#: the per-epoch address report CSVs: no country without a geo dim
REPORT_ROWS = {
    "address_report_000000.csv": [
        "address,country_code,country_name,total_events,counters",
        "203.0.113.7,,,2,ssh/auth-failure:1|ssh/user-enumeration:1",
        "198.51.100.23,,,1,ssh/user-enumeration:1",
    ],
    "address_report_000001.csv": [
        "address,country_code,country_name,total_events,counters",
        "192.0.2.5,,,2,ssh/auth-failure:1|ssh/user-enumeration:1",
    ],
}


def _count(pattern: str) -> int:
    if not glob.glob(pattern):
        return 0
    sql = f"SELECT count(*) FROM read_parquet('{pattern}')"
    return duckdb.sql(sql).fetchone()[0]


def _offset_ms(out: str, epoch: int) -> int:
    """``batchTimestampMs`` of ``offsets/<epoch>`` in the service's checkpoint."""
    with open(f"{out}/checkpoint/offsets/{epoch}") as fh:
        assert fh.readline() == "v1\n"
        return json.loads(fh.readline())["batchTimestampMs"]


def _file_ms(out: str, epoch: int) -> set[int]:
    """The ``detected_at`` values, in ms, of epoch ``epoch``'s events and
    quarantine files."""
    files = glob.glob(f"{out}/events/*/epoch-{epoch}-0.parquet")
    files += glob.glob(f"{out}/quarantine/epoch-{epoch}-0.parquet")
    sql = f"SELECT DISTINCT epoch_ms(detected_at) FROM read_parquet({files!r})"
    return {r[0] for r in duckdb.sql(sql).fetchall()}


def _db_ms(dbf: str) -> dict[int, set[int]]:
    """The ``detected_at`` values, in ms, of each epoch's DuckDB rows."""
    con = duckdb.connect(dbf, read_only=True)
    try:
        rows = con.execute(
            "SELECT payload, epoch_ms(detected_at) FROM events").fetchall()
    finally:
        con.close()
    got: dict[int, set[int]] = {}
    for payload, ms in rows:
        got.setdefault(0 if payload in CHUNK_0 else 1, set()).add(ms)
    return got


def _leftovers(events: str, quarantine: str) -> list[str]:
    """A ``_staging/`` directory or a hidden temp file left in the tables."""
    return (glob.glob(os.path.join(events, "_staging"))
            + glob.glob(os.path.join(events, "*", ".*"))
            + glob.glob(os.path.join(quarantine, ".*")))


@pytest.mark.parametrize("point", sorted(FAULTS))
def test_rerun_after_fault_is_exactly_once(spark, tmp_path, point, monkeypatch):
    ssh = tmp_path / "ssh"
    ssh.mkdir()
    cfg = tmp_path / "takuan.yml"
    cfg.write_text(CONFIG_TMPL.format(ssh_dir=ssh))
    out = str(tmp_path / "out")
    dbf = str(tmp_path / "events.duckdb")
    argv = ["--config", str(cfg), "--out", out, "--db", dbf, "--batch"]

    (ssh / "chunk-0.log").write_text("\n".join(CHUNK_0) + "\n")
    assert cli.main(argv) == 0  # epoch 0 lands cleanly
    (ssh / "chunk-1.log").write_text("\n".join(CHUNK_1) + "\n")
    with monkeypatch.context() as m:
        FAULTS[point](m)
        with pytest.raises(Exception, match="injected fault"):
            cli.main(argv)  # epoch 1 fails before the checkpoint commit
    committed = _db_ms(dbf)
    if point == "temp_written_not_renamed":
        # the stale temp file is invisible to both readers of the table
        assert _leftovers(f"{out}/events", f"{out}/quarantine")
        assert spark.read.parquet(f"{out}/events").count() == 3
        assert _count(f"{out}/events/*/*.parquet") == 3
    assert cli.main(argv) == 0  # epoch 1 is replayed

    assert _count(f"{out}/events/*/*.parquet") == 5
    assert _count(f"{out}/quarantine/*.parquet") == 2
    con = duckdb.connect(dbf, read_only=True)
    try:
        assert con.execute("SELECT count(*) FROM events").fetchone()[0] == 5
    finally:
        con.close()
    reports = sorted(os.listdir(f"{out}/reports"))
    assert reports == sorted(REPORT_ROWS)
    for name, rows in REPORT_ROWS.items():
        # one part file holding the epoch's rows, no temp file left over
        assert os.listdir(f"{out}/reports/{name}") == ["part-00000.csv"]
        with open(f"{out}/reports/{name}/part-00000.csv") as fh:
            assert fh.read().splitlines() == rows
    assert _leftovers(f"{out}/events", f"{out}/quarantine") == []
    # every row of an epoch carries its offset log's batch timestamp, and
    # a replayed epoch's files carry what its committed DB rows do
    offsets = {epoch: _offset_ms(out, epoch) for epoch in (0, 1)}
    assert {epoch: _file_ms(out, epoch) for epoch in (0, 1)} == {
        epoch: {ms} for epoch, ms in offsets.items()}
    assert _db_ms(dbf) == {epoch: {ms} for epoch, ms in offsets.items()}
    assert {epoch: _file_ms(out, epoch) for epoch in committed} == committed


def _batch(spark, good: int, bad: int):
    day = dt.datetime(2026, 8, 13)
    rows = [(day + dt.timedelta(days=i % 2), f"10.0.0.{i}", False)
            for i in range(good)]
    rows += [(None, f"10.0.1.{i}", True) for i in range(bad)]
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def test_split_sink_replay_writes_once(spark, tmp_path):
    """The same (batch, epoch) delivered twice, as after a crash between
    the sink and the checkpoint commit, lands once; the next epoch adds
    its own files beside it."""
    events, quarantine = str(tmp_path / "events"), str(tmp_path / "quarantine")
    sink = split_sink(events, quarantine)
    batch = _batch(spark, good=3, bad=2)
    sink(batch, 3)
    sink(batch, 3)  # replay
    assert _count(f"{events}/*/*.parquet") == 3
    assert _count(f"{quarantine}/*.parquet") == 2
    sink(batch, 4)  # a genuinely new epoch
    assert _count(f"{events}/*/*.parquet") == 6
    assert _count(f"{quarantine}/*.parquet") == 4
    names = {os.path.basename(p) for p in glob.glob(f"{events}/*/*.parquet")}
    assert names == {"epoch-3-0.parquet", "epoch-4-0.parquet"}
    assert _leftovers(events, quarantine) == []


def test_split_sink_all_quarantine_replay(spark, tmp_path):
    """An epoch with only parse errors fills quarantine alone, once, and
    hands the hook an empty table."""
    events, quarantine = str(tmp_path / "events"), str(tmp_path / "quarantine")
    seen = []
    sink = split_sink(events, quarantine,
                      post_hook=lambda rows, epoch: seen.append((epoch, rows.num_rows)))
    batch = _batch(spark, good=0, bad=3)
    sink(batch, 0)
    sink(batch, 0)  # replay
    assert _count(f"{quarantine}/*.parquet") == 3
    assert _count(f"{events}/*/*.parquet") == 0
    assert seen == [(0, 0), (0, 0)]
    assert _leftovers(events, quarantine) == []


def test_split_sink_survives_empty_epoch(spark, tmp_path):
    """An empty micro-batch writes no files and leaves no temp file
    behind, and the epochs after it land once."""
    events, quarantine = str(tmp_path / "events"), str(tmp_path / "quarantine")
    sink = split_sink(events, quarantine)
    empty = _batch(spark, good=0, bad=0)
    sink(empty, 0)
    sink(empty, 0)  # replay of the empty epoch
    assert not os.path.exists(events) and not os.path.exists(quarantine)
    full = _batch(spark, good=2, bad=1)
    sink(full, 1)
    sink(full, 1)  # replay
    assert _count(f"{events}/*/*.parquet") == 2
    assert _count(f"{quarantine}/*.parquet") == 1
    assert _leftovers(events, quarantine) == []


def test_split_sink_stamps_the_offset_log_batch_timestamp(spark, tmp_path):
    """With a checkpoint, every row of the epoch, quarantine included,
    gets ``batchTimestampMs`` of ``offsets/<N>`` as ``detected_at``; an
    offset log entry of another version raises and writes nothing."""
    events, quarantine = str(tmp_path / "events"), str(tmp_path / "quarantine")
    offsets = tmp_path / "ckpt" / "offsets"
    offsets.mkdir(parents=True)
    ms = 1786601701234
    meta = json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": ms})
    (offsets / "0").write_text(f"v1\n{meta}\n{{}}\n")
    (offsets / "1").write_text(f"v2\n{meta}\n{{}}\n")
    sink = split_sink(events, quarantine, checkpoint_path=str(tmp_path / "ckpt"))
    batch = _batch(spark, good=2, bad=1).withColumn(
        "detected_at", F.lit(None).cast("timestamp"))
    sink(batch, 0)
    for pattern in (f"{events}/*/*.parquet", f"{quarantine}/*.parquet"):
        sql = f"SELECT DISTINCT epoch_ms(detected_at) FROM read_parquet('{pattern}')"
        assert duckdb.sql(sql).fetchall() == [(ms,)]
    with pytest.raises(ValueError, match="'v2'"):
        sink(batch, 1)
    assert not glob.glob(f"{events}/*/epoch-1-*") + glob.glob(f"{quarantine}/epoch-1-*")
