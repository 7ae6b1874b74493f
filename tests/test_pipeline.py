"""End-to-end replication tests for the log pipeline (SURVEY.md §5.2).

Synthetic auth.log / access.log lines (formats from the reference's
config.example.yml) are pushed through the compiled batch plan; expected
rows are computed by an independent pure-Python re-implementation of the
reference's per-line semantics (parse → first-match rule → event).
"""

from __future__ import annotations

import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from takuan_spark.config import load_config
from takuan_spark.operators.enrich import geo_enrich, re_enrich
from takuan_spark.operators.parse import inject_year, tokenize
from takuan_spark.operators.reports import address_report, country_topk, unreported
from takuan_spark.operators.rules import apply_rules
from takuan_spark.plans.compiler import compile_batch, compile_sensor

YEAR = 2026

AUTH_LINES = [
    # matches parser + auth-failure
    "Aug 13 06:15:01 host1 sshd[1234]: Authentication failed for invalid user admin from 203.0.113.7 port 22",
    # matches parser + user-enumeration
    "Aug 13 06:15:03 host1 sshd[1235]: Invalid user oracle from 198.51.100.23 port 22",
    # matches parser + BOTH rules -> first-match-wins = auth-failure
    "Aug 13 06:15:04 host1 sshd[1236]: Authentication failure for Invalid user bob from 203.0.113.7 port 22",
    # matches parser, no rule -> dropped
    "Aug 13 06:15:07 host1 sshd[1237]: Accepted password for root from 10.0.0.1 port 22",
    # does not match parser -> dropped
    "Aug 13 06:15:05 host1 cron[999]: some unrelated line",
]

ACCESS_LINES = [
    '203.0.113.7 - - [13/Aug/2026:06:20:11 +0000] "GET /index.php HTTP/1.1" 404 152 "-" "python-requests/2.31"',
    # no .php, python UA -> not_a_browser
    '198.51.100.9 - - [13/Aug/2026:06:21:00 +0000] "GET /api HTTP/1.1" 200 12 "-" "curl/8.1"',
    # browser, no rule -> dropped
    '198.51.100.9 - - [13/Aug/2026:06:21:05 +0000] "GET / HTTP/1.1" 200 512 "-" "Mozilla/5.0"',
    # malformed -> dropped by parser
    "not a log line at all",
]


@pytest.fixture(scope="module")
def conf(config_path):
    return load_config(config_path, year=YEAR)


@pytest.fixture(scope="module")
def log_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("logs")
    ssh = root / "ssh"
    http = root / "http"
    ssh.mkdir()
    http.mkdir()
    (ssh / "auth.log").write_text("\n".join(AUTH_LINES) + "\n")
    (http / "access.log").write_text("\n".join(ACCESS_LINES) + "\n")
    return {"ssh": str(ssh), "http": str(http)}


def python_oracle(conf):
    """Independent per-line re-implementation (parse → rules → event)."""
    out = []
    for sensor, lines in (("ssh", AUTH_LINES), ("http", ACCESS_LINES)):
        spec = next(s for s in conf.sensors if s.name == sensor)
        rx = re.compile(spec.parser.compiled_expression().replace("(?i)", ""), re.I)
        for line in lines:
            m = rx.match(line)
            if not m:
                continue
            tokens = {name: m.group(i) for name, i in spec.parser.tokens.items()}
            for rule in spec.rules:
                if re.search(rule.expression, tokens[rule.token], re.I):
                    out.append(
                        {
                            "sensor": sensor,
                            "rule": rule.name,
                            "address": tokens["address"],
                            "payload": line,
                        }
                    )
                    break
    return out


def test_batch_pipeline_matches_python_oracle(spark, conf, log_dirs):
    got = (
        compile_batch(spark, conf, paths=log_dirs)
        .select("sensor", "rule", "address", "payload")
        .collect()
    )
    got_set = {tuple(r) for r in got}
    want_set = {
        (e["sensor"], e["rule"], e["address"], e["payload"])
        for e in python_oracle(conf)
    }
    assert got_set == want_set


def test_first_match_wins(spark, conf, log_dirs):
    # line 3 matches both auth-failure and user-enumeration; config order wins
    ev = compile_batch(spark, conf, paths=log_dirs)
    row = ev.where(F.col("payload").contains("sshd[1236]")).collect()
    assert len(row) == 1 and row[0]["rule"] == "auth-failure"


def test_year_injection_and_datetime(spark, conf, log_dirs):
    ev = compile_batch(spark, conf, paths=log_dirs)
    ssh_ts = {
        r["payload"].split("sshd[")[1][:4]: r["created_at"]
        for r in ev.where(F.col("sensor") == "ssh").collect()
    }
    assert ssh_ts["1234"] == datetime(YEAR, 8, 13, 6, 15, 1)
    http_ts = ev.where(F.col("sensor") == "http").select("created_at").collect()
    assert {r[0] for r in http_ts} == {
        datetime(2026, 8, 13, 6, 20, 11),
        datetime(2026, 8, 13, 6, 21, 0),
    }


def test_inject_year_passthrough(spark):
    df = spark.createDataFrame(
        [("Aug 13 06:15:01",), ("2025 Aug 13 06:15:01",)], ["dt"]
    )
    got = [r[0] for r in df.select(inject_year(F.col("dt"), YEAR)).collect()]
    assert got == ["2026 Aug 13 06:15:01", "2025 Aug 13 06:15:01"]


def test_quarantine_keeps_bad_datetimes(spark, conf):
    bad = "Xxx 99 99:99:99 host1 sshd[1]: Invalid user x from 1.2.3.4 port 22"
    lines = spark.createDataFrame([(bad,)], ["value"])
    ssh = conf.sensors[0]
    q = compile_sensor(lines, ssh, node_name="n", year=YEAR, quarantine=True)
    rows = q.collect()
    assert len(rows) == 1 and rows[0]["_parse_error"] is True
    strict = compile_sensor(lines, ssh, node_name="n", year=YEAR)
    assert strict.count() == 0


def test_tokenize_drops_nonmatching(spark, conf):
    lines = spark.createDataFrame([(l,) for l in AUTH_LINES], ["value"])
    toks = tokenize(lines, conf.sensors[0].parser)
    assert toks.count() == 4  # cron line dropped
    assert set(toks.columns) == {"payload", "datetime", "message", "address"}


def test_rule_label_order_is_config_order(spark, conf):
    lines = spark.createDataFrame([(l,) for l in AUTH_LINES], ["value"])
    toks = tokenize(lines, conf.sensors[0].parser)
    labeled = apply_rules(toks, conf.sensors[0].rules)
    assert labeled.count() == 3


GEO_ROWS = [
    ("203.0.113.7", "US", "United States"),
    ("198.51.100.23", "DE", "Germany"),
]


def test_geo_enrich_left_outer(spark, conf, log_dirs):
    geo = spark.createDataFrame(GEO_ROWS, ["ip", "country_code", "country_name"])
    ev = compile_batch(spark, conf, paths=log_dirs, geo_dim=geo)
    by_addr = {r["address"]: r for r in ev.collect()}
    assert by_addr["203.0.113.7"]["country_code"] == "US"
    assert by_addr["198.51.100.23"]["country_name"] == "Germany"
    assert by_addr["198.51.100.9"]["country_code"] is None  # missing from dim


def test_re_enrich_updates_only_hits(spark):
    events = spark.createDataFrame(
        [("1.1.1.1", "XX", "Old"), ("2.2.2.2", "YY", "Keep")],
        ["address", "country_code", "country_name"],
    )
    new_geo = spark.createDataFrame(
        [("1.1.1.1", "AU", "Australia")], ["ip", "country_code", "country_name"]
    )
    got = {r["address"]: r for r in re_enrich(events, new_geo).collect()}
    assert got["1.1.1.1"]["country_code"] == "AU"
    assert got["2.2.2.2"]["country_code"] == "YY"


def test_address_report_semantics(spark):
    rows = [
        ("a", "ssh", "r1", "US", "United States"),
        ("a", "ssh", "r1", "US", "United States"),
        ("a", "http", "r2", "US", "United States"),
        ("b", "ssh", "r1", "DE", "Germany"),
    ]
    ev = spark.createDataFrame(
        rows, ["address", "sensor", "rule", "country_code", "country_name"]
    )
    rep = address_report(ev).collect()
    assert [r["address"] for r in rep] == ["a", "b"]
    a = rep[0]
    assert a["total_events"] == 3
    assert a["counters"] == "http/r2:1|ssh/r1:2"  # sorted deterministic
    assert a["country_code"] == "US"


def test_country_topk(spark):
    rows = [("US",)] * 3 + [("DE",)] * 3 + [("FR",)] * 1
    ev = spark.createDataFrame(rows, ["country_code"])
    top = country_topk(ev, k=2).collect()
    # tie between US and DE broken by country code asc
    assert [(r["country_code"], r["total_events"]) for r in top] == [
        ("DE", 3),
        ("US", 3),
    ]


def test_unreported_filter(spark):
    from datetime import datetime as dt

    ev = spark.createDataFrame(
        [("a", None), ("b", dt(2026, 1, 1))], ["address", "reported_at"]
    )
    assert [r["address"] for r in unreported(ev).collect()] == ["a"]


def test_format_country_summary_pluralization():
    from takuan_spark.operators.reports import format_country_summary

    # Row-like access: format uses r['total_events'] and r[0]
    r = {0: "CN", "total_events": 3}
    assert format_country_summary([r], 3) == "3 events: 3 from \U0001F1E8\U0001F1F3 CN..."
    assert format_country_summary([], 1) == "1 event: "


def test_country_flag_codepoints():
    from takuan_spark.operators.reports import country_flag

    assert country_flag("US") == "\U0001F1FA\U0001F1F8"
    assert country_flag("de") == "\U0001F1E9\U0001F1EA"
    assert country_flag(None) == "\U0001F3F3"
    assert country_flag("??") == "\U0001F3F3"


def test_geo_dim_from_mmdb_conversion_and_range_join(spark):
    """The mmdb trie flattens to the range-dim shape ip_range_enrich
    consumes; verified end-to-end with an injected reader (the real
    maxminddb package is optional and absent in this container)."""
    import ipaddress

    from takuan_spark.operators.enrich import geo_dim_from_mmdb, ip_range_enrich

    def fake_reader():
        yield (
            ipaddress.ip_network("203.0.113.0/24"),
            {"country": {"iso_code": "CN", "names": {"en": "China"}}},
        )
        yield (
            ipaddress.ip_network("198.51.100.0/24"),
            {"country": {"iso_code": "US", "names": {"en": "United States"}}},
        )
        yield (ipaddress.ip_network("2001:db8::/32"), {})  # v6 skipped

    dim = geo_dim_from_mmdb(spark, "unused.mmdb", reader_factory=fake_reader)
    assert dim.count() == 2

    events = spark.createDataFrame(
        [("203.0.113.7",), ("198.51.100.23",), ("10.0.0.1",)], "address string"
    )
    out = {
        r["address"]: r["country_code"]
        for r in ip_range_enrich(events, dim).collect()
    }
    assert out == {"203.0.113.7": "CN", "198.51.100.23": "US", "10.0.0.1": None}
