"""Drive the takuan service through ``python -m takuan_spark``'s own ``main``,
check what it wrote against the ground truth, and turn its progress
events and spans into per-layer numbers."""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import json
import os
import shutil
import threading
import time
from collections import Counter

from perfbench import gen
from perfbench.box import timed
from perfbench.stats import batch_ends, epoch_seconds, median, tail
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


def write_conf(path: str, ssh_dir: str, http_dir: str, flush_secs: int) -> str:
    """Write the benchmark's pipeline config with its directories filled
    in to ``path``; returns ``path``."""
    with open(os.path.join(HERE, "takuan_bench.yml")) as fh:
        text = fh.read()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text.replace("SSH_DIR", ssh_dir).replace("HTTP_DIR", http_dir)
                 .replace("FLUSH_SECS", str(flush_secs)))
    return path


def write_chunks(corpus: gen.LogCorpus, root: str) -> dict[str, str]:
    """Write every chunk as one file per chunk under ``root/<sensor>``."""
    dirs = {}
    for sensor, chunks in corpus.chunks.items():
        d = os.path.join(root, sensor)
        os.makedirs(d, exist_ok=True)
        for i, lines in enumerate(chunks):
            with open(os.path.join(d, f"chunk-{i:06d}.log"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
        dirs[sensor] = d
    return dirs


def write_geo(spark, geo: dict, path: str):
    """Store the geo dimension as parquet and read it back, as the
    service's ``--geo-dim`` does."""
    import pandas as pd

    pdf = pd.DataFrame(
        [(ip, cc, cn) for ip, (cc, cn) in sorted(geo.items())],
        columns=["ip", "country_code", "country_name"],
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@contextlib.contextmanager
def patched_service(tracer: Tracer, epoch_gate=None):
    """Let ``takuan_spark.__main__.main`` run unchanged while the parts it
    wires into ``foreachBatch`` carry spans: the split sink (whose self
    time excludes the parts below), the DuckDB exactly-once sink and the
    report hook. The patches replace module attributes in place, so main
    builds the service it always builds. Yields the list that receives
    every query main starts. ``epoch_gate(epoch_id)``, when given, turns
    the tracer on or off for each micro-batch."""
    import takuan_spark.__main__ as cli
    from takuan_spark.sinks import db
    from takuan_spark.streaming import pipeline

    queries: list = []
    originals = (pipeline.split_sink, pipeline.start_pipeline,
                 db.duckdb_exactly_once_sink, cli._report_hook)
    split_sink, start_pipeline, db_sink, report_hook = originals

    def traced_split_sink(*args, **kwargs):
        sink = tracer.wrap("streaming.pipeline.split_sink", split_sink(*args, **kwargs))
        if epoch_gate is None:
            return sink

        def gated(batch, epoch_id: int) -> None:
            tracer.enabled = epoch_gate(epoch_id)
            sink(batch, epoch_id)

        return gated

    def recorded_start(*args, **kwargs):
        queries.append(start_pipeline(*args, **kwargs))
        return queries[-1]

    pipeline.split_sink = traced_split_sink
    pipeline.start_pipeline = recorded_start
    db.duckdb_exactly_once_sink = lambda *a, **kw: tracer.wrap(
        "sinks.db.sink", db_sink(*a, **kw))
    cli._report_hook = lambda *a, **kw: tracer.wrap(
        "operators.reports.hook", report_hook(*a, **kw))
    try:
        yield queries
    finally:
        (pipeline.split_sink, pipeline.start_pipeline,
         db.duckdb_exactly_once_sink, cli._report_hook) = originals


def service_argv(conf_path: str, geo_path: str, out: str, nproc: int) -> list[str]:
    """``python -m takuan_spark`` arguments for the service the benchmark
    runs: events, quarantine, checkpoint and reports under ``out``, the
    DuckDB sink and the geo dimension on."""
    return ["--config", conf_path, "--out", out, "--db", f"{out}/events.duckdb",
            "--geo-dim", geo_path, "--master", f"local[{nproc}]"]


def run_pass(argv: list[str], tracer: Tracer):
    """One ``python -m takuan_spark --batch`` drain of everything in the
    sensor directories; returns (what the service printed, progress
    events)."""
    import takuan_spark.__main__ as cli

    buf = io.StringIO()
    with patched_service(tracer) as queries, contextlib.redirect_stdout(buf):
        code = cli.main([*argv, "--batch"])
    if code != 0 or len(queries) != 1:
        raise RuntimeError(f"service exited {code} after {len(queries)} queries")
    if queries[0].exception() is not None:
        raise RuntimeError(str(queries[0].exception()))
    return buf.getvalue(), progress_of(queries[0])


class ServiceThread(threading.Thread):
    """``takuan_spark.__main__.main(argv)`` in its long-running mode, on
    a thread of its own; ``query()`` waits for the stream it starts.
    Run it inside ``patched_service`` and pass that list as ``queries``."""

    def __init__(self, argv: list[str], queries: list) -> None:
        super().__init__(daemon=True)
        self.argv = argv
        self.queries = queries
        self.error: BaseException | None = None

    def run(self) -> None:
        import takuan_spark.__main__ as cli

        try:
            cli.main(self.argv)
        except BaseException as e:  # re-raised by the caller after join
            self.error = e

    def query(self, timeout: float):
        deadline = time.perf_counter() + timeout
        while not self.queries:
            if not self.is_alive() or time.perf_counter() > deadline:
                raise RuntimeError(f"service did not start a query: {self.error!r}")
            time.sleep(0.05)
        return self.queries[0]


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def summary_lines(text: str) -> list[str]:
    """The country summaries the report hook printed, one per batch."""
    return [ln for ln in text.splitlines() if " event" in ln and ": " in ln]


def read_reports(out: str) -> tuple[dict[str, tuple], bool]:
    """Sum the per-batch address-report CSVs the hook wrote into one
    report keyed by address; also say whether every file was ordered by
    (total desc, address)."""
    rows: dict[str, list] = {}
    counters: dict[str, Counter] = {}
    ordered = True
    for path in sorted(glob.glob(f"{out}/reports/address_report_*.csv/part-*.csv")):
        with open(path, newline="") as fh:
            prev = None
            for r in csv.DictReader(fh):
                addr = r["address"]
                key = (-int(r["total_events"]), addr)
                ordered &= prev is None or prev <= key
                prev = key
                row = rows.setdefault(
                    addr, [addr, r["country_code"] or None, r["country_name"] or None, 0])
                row[3] += int(r["total_events"])
                counters.setdefault(addr, Counter()).update(
                    gen.parse_counters(r["counters"]))
    report = {}
    for addr, (a, cc, cn, total) in rows.items():
        segs = sorted(f"{s}/{rule}:{n}" for (s, rule), n in counters[addr].items())
        report[addr] = (a, cc, cn, total, "|".join(segs))
    return report, ordered


def check_service_output(out: str, truth: gen.LogTruth, geo: dict,
                         summaries: list[str]) -> list[str]:
    """Compare everything the service wrote with the ground truth: the
    DuckDB table, the events and quarantine tables, the report CSVs and
    the printed summaries. Returns the name of each mismatch."""
    import duckdb

    bad = []
    con = duckdb.connect(f"{out}/events.duckdb", read_only=True)
    try:
        got = Counter({
            (a, s, r): n for a, s, r, n in con.execute(
                "SELECT address, sensor, rule, count(*) FROM events "
                "GROUP BY ALL").fetchall()
        })
        geo_rows = con.execute(
            "SELECT DISTINCT address, country_code, country_name FROM events"
        ).fetchall()
    finally:
        con.close()
    if got != truth.counts:
        bad.append("db events")
    if any(geo.get(a, (None, None)) != (cc, cn) for a, cc, cn in geo_rows):
        bad.append("db geo")
    n_events = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/events/*/*.parquet')"
    ).fetchone()[0]
    if n_events != truth.events:
        bad.append(f"events table {n_events} != {truth.events}")
    n_q = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/quarantine/*.parquet')"
    ).fetchone()[0]
    if n_q != truth.quarantine:
        bad.append(f"quarantine {n_q} != {truth.quarantine}")
    report, ordered = read_reports(out)
    want = {r[0]: r for r in gen.expected_report(truth.counts, geo)}
    if report != want or not ordered:
        bad.append("address report")
    if sum(int(s.split(" ", 1)[0]) for s in summaries) != truth.events:
        bad.append("summary totals")
    if len(summaries) == 1:
        topk = gen.expected_topk(truth.counts, geo)
        if summaries[0] != gen.expected_summary(topk, truth.events):
            bad.append("country summary")
    return bad


def parquet_files(*roots: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under ``roots``."""
    n = size = 0
    for root in roots:
        for dp, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dp, f))
    return n, size


def stream_layers(queries: list[list[dict]], tracer: Tracer) -> dict[str, float]:
    """Per-layer numbers from the progress events of one or more
    streaming queries (batches with input only) and the spans around the
    foreachBatch parts. ``batches`` is per query."""
    data = []
    waits = []
    for progress in queries:
        prev_end = None
        for p in progress:
            if p.get("numInputRows", 0) == 0:
                continue
            data.append(p)
            start = epoch_seconds(p["timestamp"])
            if prev_end is not None:
                waits.append(max(0.0, start - prev_end))
            prev_end = start + p["durationMs"]["triggerExecution"] / 1000
    dur = [p["durationMs"] for p in data]
    batch_s = [d["triggerExecution"] / 1000 for d in dur]
    selfs = tracer.self_times()
    spans = tracer.durations()
    return {
        "sources.latest_offset_ms": median([d.get("latestOffset", 0) for d in dur]),
        "streaming.pipeline.batch_s_p50": median(batch_s),
        "streaming.pipeline.batch_s_p95": tail(batch_s),
        "streaming.pipeline.batches": len(data) / max(1, len(queries)),
        "streaming.pipeline.rows_per_batch": median([p["numInputRows"] for p in data]),
        "streaming.pipeline.planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
        "streaming.pipeline.checkpoint_ms": median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "streaming.pipeline.trigger_wait_s": median(waits),
        "streaming.pipeline.split_sink_s": median(selfs.get("streaming.pipeline.split_sink", [])),
        "sinks.db.sink_s": median(spans.get("sinks.db.sink", [])),
        "operators.reports.hook_s": median(spans.get("operators.reports.hook", [])),
    }


def lag_lines_max(stamps: dict[str, list[tuple[float, int]]], progress: list[dict],
                  source_of: dict[str, str]) -> int:
    """Largest number of published but uncommitted lines seen at the
    start of any micro-batch with input."""
    ends = batch_ends(progress, source_of)
    starts = sorted(epoch_seconds(p["timestamp"]) for p in progress
                    if p.get("numInputRows", 0) > 0)
    worst = committed = 0
    for k, start in enumerate(starts):
        published = sum(n for st in stamps.values() for t, n in st if t <= start)
        worst = max(worst, published - committed)
        if k < len(ends):
            committed = sum(ends[k][1].values())
    return worst


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_run(df, name: str, **aggs) -> tuple[float, dict]:
    """Run ``df`` to the noop sink twice, the second time with an
    Observation of its row count (``n``) plus ``aggs``; returns (the
    faster run's seconds, observed values)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    _, plain = timed(noop, df)
    obs = Observation(name)
    odf = df.observe(obs, F.count(F.lit(1)).alias("n"),
                     *[c.alias(k) for k, c in aggs.items()])
    _, observed = timed(noop, odf)
    return min(plain, observed), obs.get


def batch_prefixes(spark, conf, geo_dim, write_dir: str) -> dict[str, float]:
    """Layer times as differences between nested prefix plans over the
    same chunk files (scan, +tokenize, +rules, +datetime, the compiled
    plan without and with the geo join, then reports and the events
    write on top), with counts observed at each boundary."""
    from pyspark.sql import functions as F

    from takuan_spark.operators.parse import parse_datetime, tokenize
    from takuan_spark.operators.reports import address_report, country_topk
    from takuan_spark.operators.rules import apply_rules
    from takuan_spark.plans.compiler import compile_batch
    from takuan_spark.sinks.writers import write_events

    def union(frames):
        # sensors have different token columns; each prefix keeps all of its own
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    sensors = conf.enabled_sensors()
    scan, tok, ruled, dated = [], [], [], []
    for s in sensors:
        lines = spark.read.text(s.filename)
        t = tokenize(lines, s.parser)
        r = apply_rules(t, s.rules)
        d = parse_datetime(r, s.parser, year=conf.year)
        scan.append(lines)
        tok.append(t)
        ruled.append(r)
        dated.append(d)
    t_scan, c_scan = prefix_run(union(scan), "scan")
    t_tok, c_tok = prefix_run(union(tok), "tokenize")
    t_rules, c_rules = prefix_run(union(ruled), "rules")
    t_dt, c_dt = prefix_run(union(dated), "datetime",
                            bad=F.sum(F.col("created_at").isNull().cast("long")))
    t_events, _ = prefix_run(compile_batch(spark, conf), "events")
    enriched = compile_batch(spark, conf, geo_dim=geo_dim)
    t_geo, c_geo = prefix_run(enriched, "enrich",
                              hit=F.sum(F.col("country_code").isNotNull().cast("long")))
    # each report against the same plan cut to the columns it reads
    t_report_in, _ = prefix_run(enriched.select(
        "address", "sensor", "rule", "country_code", "country_name"), "report_in")
    t_report, c_report = prefix_run(address_report(enriched), "report")
    t_topk_in, _ = prefix_run(enriched.select("country_code"), "topk_in")
    t_topk, _ = prefix_run(country_topk(enriched), "topk")
    _, t_write = timed(write_events, enriched, write_dir)
    shutil.rmtree(write_dir, ignore_errors=True)
    return {
        "sources.scan_s": t_scan,
        "operators.parse.tokenize_s": t_tok - t_scan,
        "operators.rules.apply_rules_s": t_rules - t_tok,
        "operators.parse.parse_datetime_s": t_dt - t_rules,
        "operators.enrich.geo_enrich_s": t_geo - t_events,
        "sinks.writers.write_events_s": t_write - t_geo,
        "operators.reports.address_report_s": t_report - t_report_in,
        "operators.reports.country_topk_s": t_topk - t_topk_in,
        "operators.reports.distinct_addresses": float(c_report["n"]),
        "operators.parse.match_ratio": c_tok["n"] / c_scan["n"],
        "operators.rules.hit_ratio": c_rules["n"] / c_tok["n"],
        "operators.parse.quarantine_ratio": c_dt["bad"] / c_dt["n"],
        "operators.enrich.hit_ratio": c_geo["hit"] / c_geo["n"],
    }
