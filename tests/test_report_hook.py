"""The service's per-epoch report hook (``__main__._report_hook``) against
the Spark report queries it stands in for, and the number of Spark jobs
it launches (none).

The hook takes the epoch's events as an Arrow table and folds them on
the driver (``epoch_partial``, ``fold_partial``); over the same batch
its CSV rows, printed summary and webhook ``n_events`` must be what
``address_report``, ``country_topk`` and ``count()`` give, and Spark's
CSV writer must write the same report in the same RFC 4180 dialect.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import tempfile
from collections import Counter

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from takuan_spark.__main__ import _report_hook
from takuan_spark.operators.reports import (
    REPORT_COLUMNS,
    _segment,
    address_report,
    country_topk,
    epoch_partial,
    fold_partial,
    format_country_summary,
    partial_report,
)
from takuan_spark.sinks import publish
from takuan_spark.sinks.writers import write_csv_report

BATCH_SCHEMA = (
    "address string, sensor string, rule string, "
    "country_code string, country_name string"
)


def _events(spec) -> list[tuple]:
    """Event rows from ``(address, code, name, [(sensor, rule, n), ...])``
    entries; country is constant per address, as the geo join makes it."""
    return [
        (address, sensor, rule, code, name)
        for address, code, name, segments in spec
        for sensor, rule, n in segments
        for _ in range(n)
    ]


# seven countries, NULL tied with AU for second place, totals tied
# between addresses, one address with three (sensor, rule) segments and
# a country name holding a comma and double quotes
MIXED = _events([
    ("10.0.0.1", "KR", 'Korea, "South"', [
        ("ssh", "auth-failure", 2), ("ssh", "user-enumeration", 1),
        ("http", "php_files_scan", 1)]),
    ("10.0.0.3", "AU", "Australia", [("http", "not_a_browser", 2)]),
    ("10.0.0.2", None, None, [("ssh", "auth-failure", 2)]),
    ("10.0.0.4", "BR", "Brazil", [("ssh", "auth-failure", 1)]),
    ("10.0.0.7", "FR", "France", [("ssh", "user-enumeration", 1)]),
    ("10.0.0.5", "CN", "China", [("http", "php_files_scan", 1)]),
    ("10.0.0.6", "DE", "Germany", [("ssh", "auth-failure", 1)]),
])

_NAMES = st.text(alphabet='ab é,"', max_size=6)
_COUNTRIES = st.one_of(
    st.just((None, None)),
    st.tuples(st.sampled_from(["AU", "BR", "CN", "DE", "FR", "JP", "US"]), _NAMES),
)
_SEGMENTS = st.lists(
    st.tuples(
        st.sampled_from(["ssh", "http"]),
        st.sampled_from(["auth-failure", "user-enumeration", "php_files_scan"]),
        st.integers(1, 3),
    ),
    min_size=1, max_size=4, unique_by=lambda t: t[:2],
)


@st.composite
def batches(draw) -> list[tuple]:
    addresses = draw(st.lists(
        st.sampled_from([None] + [f"10.0.0.{i}" for i in range(10)]),
        min_size=1, max_size=8, unique=True,
    ))
    return _events([
        (address, *draw(_COUNTRIES), draw(_SEGMENTS)) for address in addresses
    ])


def _read_report(path: str) -> list[list[str]]:
    with open(path, newline="", encoding="utf-8") as fh:
        return list(csv.reader(fh))


@settings(max_examples=12, deadline=None)
@given(rows=batches())
@example(rows=MIXED)
def test_hook_matches_spark_report_queries(spark, rows):
    batch = spark.createDataFrame(rows, BATCH_SCHEMA).persist()
    try:
        sent: list[dict] = []
        with tempfile.TemporaryDirectory() as out, \
                pytest.MonkeyPatch.context() as m, \
                contextlib.redirect_stdout(io.StringIO()) as printed:
            m.setattr(publish, "webhook_publisher", lambda url: sent.append)
            _report_hook(out, "http://127.0.0.1:9/report")(batch.toArrow(), 5)
            parts = glob.glob(f"{out}/address_report_000005.csv/part-*.csv")
            assert len(parts) == 1
            got = _read_report(parts[0])
            write_csv_report(address_report(batch), f"{out}/spark")
            (spark_part,) = glob.glob(f"{out}/spark/part-*.csv")
            spark_csv = _read_report(spark_part)
        total = batch.count()
        want = [["" if v is None else str(v) for v in r]
                for r in address_report(batch).collect()]
        status = format_country_summary(country_topk(batch).collect(), total)
    finally:
        batch.unpersist()
    assert got[0] == ["address", "country_code", "country_name",
                      "total_events", "counters"]
    assert got[1:] == want
    assert spark_csv == got
    assert printed.getvalue() == status + "\n"
    assert sent == [{"epoch_id": 5, "n_events": total, "status": status}]


def test_fold_partial_orders_like_spark():
    """The hand-built example folded without Spark: NULL sorts before AU
    among the tied countries, tied addresses go by address, and the
    segments of one address are sorted."""
    keys = Counter(MIXED)
    partial = pa.table({
        "address": [k[0] for k in keys],
        "country_code": [k[3] for k in keys],
        "country_name": [k[4] for k in keys],
        "segment": [f"{k[1]}/{k[2]}:{n}" for k, n in keys.items()],
        "n": pa.array(list(keys.values()), pa.int64()),
    })
    report, countries = fold_partial(partial)
    assert [tuple(c) for c in countries[:5]] == [
        ("KR", 4), (None, 2), ("AU", 2), ("BR", 1), ("CN", 1)]
    assert report.column_names == REPORT_COLUMNS
    assert report["address"].to_pylist() == [
        "10.0.0.1", "10.0.0.2", "10.0.0.3",
        "10.0.0.4", "10.0.0.5", "10.0.0.6", "10.0.0.7"]
    assert report["counters"][0].as_py() == (
        "http/php_files_scan:1|ssh/auth-failure:2|ssh/user-enumeration:1")
    empty, none = fold_partial(partial.slice(0, 0))
    assert (empty.num_rows, none) == (0, [])


def test_epoch_partial_matches_spark_partial(spark):
    """``epoch_partial`` gives ``partial_report``'s keys and counts, and
    builds each segment as Spark's ``concat_ws`` does, a NULL sensor or
    rule (or both) skipped."""
    rows = MIXED + [("10.0.0.8", None, "auth-failure", None, None),
                    ("10.0.0.8", "ssh", None, None, None),
                    ("10.0.0.9", None, None, "FR", "France")] * 2
    batch = spark.createDataFrame(rows, BATCH_SCHEMA)
    cols = ["address", "country_code", "country_name", "segment", "n"]
    want = partial_report(batch).select(
        "address", "country_code", "country_name",
        _segment("n").alias("segment"), "n").collect()
    got = epoch_partial(batch.toArrow())
    assert got.column_names == cols
    assert sorted(got.to_pylist(), key=str) == sorted(
        (r.asDict() for r in want), key=str)
    assert {"auth-failure:2", "ssh:2", ":2"} <= set(got["segment"].to_pylist())


def test_report_replaces_spark_named_part(spark, tmp_path):
    """A report directory an earlier build wrote through Spark's CSV
    writer (a ``part-00000-<uuid>-c000.csv`` name) holds only the new
    ``part-00000.csv`` once the epoch is reported again."""
    batch = spark.createDataFrame(MIXED, BATCH_SCHEMA).persist()
    report_dir = tmp_path / "address_report_000000.csv"
    try:
        write_csv_report(address_report(batch), str(report_dir))
        assert glob.glob(f"{report_dir}/part-00000-*.csv")
        with contextlib.redirect_stdout(io.StringIO()):
            _report_hook(str(tmp_path))(batch.toArrow(), 0)
        want = [["" if v is None else str(v) for v in r]
                for r in address_report(batch).collect()]
    finally:
        batch.unpersist()
    assert glob.glob(f"{report_dir}/part-*") == [f"{report_dir}/part-00000.csv"]
    assert _read_report(f"{report_dir}/part-00000.csv")[1:] == want


def test_report_hook_runs_no_spark_job(spark, tmp_path):
    """The hook folds the Arrow table it is handed on the driver: it
    launches no Spark job."""
    events = spark.createDataFrame(MIXED, BATCH_SCHEMA).toArrow()
    sc = spark.sparkContext
    sc.setJobGroup("report-hook-jobs", "report hook job count")
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            _report_hook(str(tmp_path))(events, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert glob.glob(f"{tmp_path}/address_report_000000.csv/part-*.csv")
    assert sc.statusTracker().getJobIdsForGroup("report-hook-jobs") == []
