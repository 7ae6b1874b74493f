"""Engine-free tests: generator determinism, the percentile helper,
chunk-to-batch latency and span self times."""

from __future__ import annotations

import pytest

from perfbench import gen
from perfbench.stats import beyond, chunk_latencies, tail_percentile
from perfbench.trace import Span, Tracer


def test_log_corpus_is_deterministic_per_seed():
    kw = {"chunks_per_sensor": 3, "chunk_lines": 200, "n_addresses": 50}
    a, b = gen.log_corpus(7, **kw), gen.log_corpus(7, **kw)
    assert a.chunks == b.chunks
    assert a.truth == b.truth
    assert a.geo == b.geo
    assert gen.log_corpus(8, **kw).chunks != a.chunks


def test_log_corpus_truth_adds_up():
    c = gen.log_corpus(3, chunks_per_sensor=4, chunk_lines=250, n_addresses=40)
    t = c.truth
    assert t.lines == 2 * 4 * 250 == sum(len(ch) for chs in c.chunks.values() for ch in chs)
    assert t.lines == t.events + t.quarantine + t.parser_miss + t.rule_miss
    rules = {(s, r) for _, s, r in t.counts}
    assert rules == set(gen.EVENT_RULES)  # every rule fires
    assert t.quarantine and t.parser_miss and t.rule_miss


def test_event_history_is_deterministic_per_seed():
    kw = {"n_events": 500, "n_addresses": 100, "n_epochs": 4}
    a, b = gen.event_history(5, **kw), gen.event_history(5, **kw)
    assert a.epochs == b.epochs and a.counts == b.counts and a.geo == b.geo
    assert sum(map(len, a.epochs)) == 500 == sum(a.counts.values())
    assert gen.event_history(6, **kw).epochs != a.epochs


def test_expected_report_encoding_and_order():
    counts = {("1.1.1.1", "ssh", "b"): 2, ("1.1.1.1", "http", "a"): 1,
              ("2.2.2.2", "ssh", "b"): 3}
    geo = {"2.2.2.2": ("US", "United States")}
    assert gen.expected_report(counts, geo) == [
        ("1.1.1.1", None, None, 3, "http/a:1|ssh/b:2"),
        ("2.2.2.2", "US", "United States", 3, "ssh/b:3"),
    ]
    assert gen.expected_topk(counts, geo, k=5) == [(None, 3), ("US", 3)]
    assert gen.parse_counters("http/a:1|ssh/b:2") == {("http", "a"): 1, ("ssh", "b"): 2}


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (20, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_picks_highest_with_ten_beyond(n, p):
    values = [float(v) for v in range(n, 0, -1)]  # unsorted on purpose
    got = tail_percentile(values)
    if p is None:
        assert got is None
        return
    assert got[0] == p
    assert beyond(n, p) >= 10
    # the value is the nearest-rank percentile: exactly beyond(n, p) above it
    assert sum(v > got[1] for v in values) == beyond(n, p)


def _progress(batch_id, ts, trigger_ms, ssh_rows, http_rows):
    return {
        "batchId": batch_id,
        "timestamp": ts,
        "numInputRows": ssh_rows + http_rows,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [
            {"description": "FileStreamSource[file:/x/in/ssh]", "numInputRows": ssh_rows},
            {"description": "FileStreamSource[file:/x/in/http]", "numInputRows": http_rows},
        ],
    }


def test_chunk_latency_from_synthetic_progress():
    from datetime import datetime, timezone

    t0 = datetime(2026, 8, 1, 12, 0, 0, tzinfo=timezone.utc).timestamp()
    # three ssh chunks of 10 lines, two http chunks of 5 lines
    chunks = {
        "ssh": [(t0 + 0.1, 10), (t0 + 0.2, 10), (t0 + 1.5, 10)],
        "http": [(t0 + 0.3, 5), (t0 + 1.6, 5)],
    }
    progress = [
        # batch 0 starts at t0+1.0, runs 0.5 s: commits ssh 0-1 and http 0
        _progress(0, "2026-08-01T12:00:01.000Z", 500, 20, 5),
        # an empty batch in between changes nothing
        _progress(1, "2026-08-01T12:00:01.600Z", 10, 0, 0),
        # batch 2 starts at t0+2.0, runs 1.25 s: commits the rest
        _progress(2, "2026-08-01T12:00:02.000Z", 1250, 10, 5),
    ]
    source_of = {"ssh": "/in/ssh]", "http": "/in/http]"}
    lat = chunk_latencies(chunks, progress, source_of)
    assert lat["ssh"] == pytest.approx([1.4, 1.3, 1.75])
    assert lat["http"] == pytest.approx([1.2, 1.65])
    # without batch 2 the late chunks are uncommitted
    lat = chunk_latencies(chunks, progress[:2], source_of)
    assert lat["ssh"][2] is None and lat["http"][1] is None


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        Span("parent", 0.0, 10.0, None, 0),
        Span("child", 1.0, 4.0, 0, 0),
        Span("child", 3.0, 5.0, 0, 0),  # overlaps the first child
        Span("child", 8.0, 9.0, 0, 0),
    ]
    self_t = tr.self_times()
    assert self_t["parent"] == [pytest.approx(10.0 - 4.0 - 1.0)]
    assert self_t["child"] == [pytest.approx(3.0), pytest.approx(2.0), pytest.approx(1.0)]


def test_printed_metrics_are_the_declared_ones():
    import json
    from pathlib import Path

    from perfbench import workloads

    spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
