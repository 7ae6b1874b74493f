"""The workloads. Each builds its inputs from the seed, sets up
``SETUP_REPS`` times, warms up, then repeats its operation for the run
length and checks every result against the generator's ground truth.

Every workload returns a ``Result``: samples for the end-to-end metrics
and, in traced runs, the per-layer metrics it measured. A layer a
workload does not run reports 0.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.box import Box, timed
from perfbench.service import (
    ServiceThread, batch_prefixes, check_service_output, lag_lines_max,
    parquet_files, patched_service, prefix_run, progress_of, run_pass,
    service_argv, stream_layers, summary_lines, write_chunks, write_conf,
    write_geo)
from perfbench.stats import batch_ends, chunk_latencies, median
from perfbench.trace import Tracer

SETUP_REPS = 3
#: untimed operations before the clock starts: the JVM keeps getting
#: faster over the first few passes of a plan
WARM_OPS = 2
#: timed operations a run completes even when they overrun ``seconds``
MIN_OPS = 2

# backfill: ssh + http chunk directories drained by one availableNow pass
BACKFILL = {"chunks_per_sensor": 12, "chunk_lines": 1000, "n_addresses": 5000}
# live_tail: open loop of chunks into each sensor directory, 1 s trigger
LIVE = {"chunk_lines": 20, "chunks_per_s": 10, "n_addresses": 2000}
LIVE_WARM = {"chunks_per_sensor": 4, "chunk_lines": 500, "n_addresses": 500}
LIVE_FLUSH_SECS = 1
#: a chunk that takes longer than this to commit counts as failed
LATENCY_LIMIT_S = 15.0
#: how long a live_tail run waits for the last chunks to commit
DRAIN_S = 15.0
# report_refresh: stored history with many, heavily skewed addresses
REPORT = {"n_events": 40_000, "n_addresses": 15_000, "n_epochs": 24}
#: appends that write the events table, as micro-batches would
REPORT_APPENDS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "lines_per_s": "lines/s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "peak_rss_mb": "MB",
}

#: every per-layer metric with its unit, in BENCHMARK.json order
LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.lag_lines_max": "lines",
    "operators.parse.tokenize_s": "s",
    "operators.parse.match_ratio": "share",
    "operators.parse.parse_datetime_s": "s",
    "operators.parse.quarantine_ratio": "share",
    "operators.rules.apply_rules_s": "s",
    "operators.rules.hit_ratio": "share",
    "operators.enrich.geo_enrich_s": "s",
    "operators.enrich.hit_ratio": "share",
    "streaming.pipeline.batch_s_p50": "s",
    "streaming.pipeline.batch_s_p95": "s",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.rows_per_batch": "rows",
    "streaming.pipeline.planning_ms": "ms",
    "streaming.pipeline.checkpoint_ms": "ms",
    "streaming.pipeline.trigger_wait_s": "s",
    "streaming.pipeline.split_sink_s": "s",
    "sinks.writers.write_events_s": "s",
    "sinks.writers.files_written": "count",
    "sinks.writers.bytes_written": "bytes",
    "sinks.db.sink_s": "s",
    "sinks.db.rows": "rows",
    "operators.reports.hook_s": "s",
    "operators.reports.address_report_s": "s",
    "operators.reports.country_topk_s": "s",
    "operators.reports.distinct_addresses": "count",
    "streaming.report_stream.merged_report_s": "s",
    "streaming.report_stream.partial_rows": "rows",
    "session.get_spark_s": "s",
    "config.load_config_s": "s",
    "plans.compiler.compile_s": "s",
    "bench.generator_late_s": "s",
    "bench.trace_overhead_ratio": "share",
}


@dataclass
class Result:
    #: per setup rep: seconds to build the workload on a fresh session
    rep_s: list[float] = field(default_factory=list)
    #: the warm-up after the reps
    warm_s: float = 0.0
    #: per operation: seconds from input to complete result
    op_s: list[float] = field(default_factory=list)
    #: traced operations (traced runs alternate traced and plain ones)
    traced_op_s: list[float] = field(default_factory=list)
    #: input records per operation
    records: int = 0
    #: records per second; None means records / median operation time
    rate: float | None = None
    #: per-chunk latencies (live_tail); empty means the operation times
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    @property
    def setup_s(self) -> float:
        return median(self.rep_s) + self.warm_s


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What a workload gets: the box, the seed, the run length and the
    tracer (enabled only in traced runs)."""

    def __init__(self, box: Box, seed: int, seconds: float, trace: bool) -> None:
        self.box = box
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.result = Result()
        #: the service's config file: the sensor directories under ``in``
        self.conf_path = write_conf(box.path("conf", "takuan.yml"), box.path("in", "ssh"),
                                    box.path("in", "http"), LIVE_FLUSH_SECS)

    def setup(self, build):
        """Set up SETUP_REPS times, each on a fresh session (the first
        also starts the JVM): ``build(spark, conf)`` makes the workload's
        inputs and tables and returns its state; the last state is kept."""
        from takuan_spark.config import load_config

        state = None
        for _ in range(SETUP_REPS):
            self.box.stop_spark()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                spark = self.box.start_spark()
            with self.tracer.span("config.load_config"):
                conf = load_config(self.conf_path)
            state = build(spark, conf)
            self.result.rep_s.append(time.perf_counter() - t0)
        log(f"setup reps {[round(r, 2) for r in self.result.rep_s]} s")
        return state

    def loop(self, op, check):
        """Run ``op(i)`` WARM_OPS times as the warm-up, then repeat it for
        the run length (at least MIN_OPS times), timing each call and
        checking its output with ``check(i, out)``. The warm-up is
        checked too; its time goes to setup. In traced runs odd
        operations run with the tracer on and even ones with it off."""
        res = self.result
        start = None
        i = 0
        while (start is None or i < WARM_OPS + MIN_OPS
               or time.perf_counter() - start < self.seconds):
            traced = self.trace and i >= WARM_OPS and i % 2 == 1
            self.tracer.enabled = traced
            self.tracer.trace_id = i
            try:
                out, dt = timed(op, i)
                ok = check(i, out)
            except Exception as e:  # a failed operation is counted, not fatal
                log(f"op {i} failed: {type(e).__name__}: {e}")
                ok, dt = False, 0.0
            res.attempted += 1
            res.failed += not ok
            if i < WARM_OPS:
                res.warm_s += dt
                if i == WARM_OPS - 1:
                    start = time.perf_counter()
            elif ok:
                (res.traced_op_s if traced else res.op_s).append(dt)
            i += 1
        self.tracer.enabled = self.trace
        log(f"warm-up {res.warm_s:.2f} s, ops {[round(t, 2) for t in res.op_s]} s")

    def setup_layers(self) -> dict[str, float]:
        spans = self.tracer.durations()
        return {
            name + "_s": median(spans.get(name, []))
            for name in ("session.get_spark", "config.load_config",
                         "plans.compiler.compile")
        }


# --------------------------------------------------------------- backfill

def backfill(ctx: Ctx) -> Result:
    """One ``--batch`` catch-up pass over a backlog of chunk files."""
    corpus = gen.log_corpus(ctx.seed, **BACKFILL)
    res = ctx.result
    res.records = corpus.truth.lines
    tr = ctx.tracer
    box = ctx.box

    def build(spark, conf):
        from takuan_spark.plans.compiler import compile_batch

        shutil.rmtree(box.path("in"), ignore_errors=True)
        write_chunks(corpus, box.path("in"))
        geo_dim = write_geo(spark, corpus.geo, box.path("geo"))
        with tr.span("plans.compiler.compile"):
            compile_batch(spark, conf, geo_dim=geo_dim)
        return spark, conf, geo_dim

    spark, conf, geo_dim = ctx.setup(build)
    progress: list[list[dict]] = []
    files: list[tuple[int, int]] = []

    def op(i):
        out = box.path("out", str(i))
        return out, run_pass(service_argv(ctx.conf_path, box.path("geo"), out, box.nproc), tr)

    def check(i, result):
        out, (text, prog) = result
        bad = check_service_output(out, corpus.truth, corpus.geo, summary_lines(text))
        if bad:
            log(f"backfill pass {i}: mismatch in {', '.join(bad)}")
        if i >= WARM_OPS:
            progress.append(prog)
            files.append(parquet_files(f"{out}/events", f"{out}/quarantine"))
        shutil.rmtree(out, ignore_errors=True)
        return not bad

    ctx.loop(op, check)
    if ctx.trace:
        layers = stream_layers(progress, tr)
        layers.update(ctx.setup_layers())
        layers["sources.lag_lines_max"] = float(corpus.truth.lines)
        layers["sinks.writers.files_written"] = median([float(f[0]) for f in files])
        layers["sinks.writers.bytes_written"] = median([float(f[1]) for f in files])
        layers["sinks.db.rows"] = float(corpus.truth.events)  # checked per pass
        layers.update(batch_prefixes(spark, conf, geo_dim, box.path("prefix")))
        res.layers = layers
    return res


# -------------------------------------------------------------- live_tail

class Generator(threading.Thread):
    """Open-loop load: every 1/chunks_per_s seconds, publish the next
    chunk into each sensor directory with an atomic rename, on a fixed
    schedule that does not wait for the pipeline."""

    def __init__(self, corpus: gen.LogCorpus, dirs: dict[str, str],
                 chunks_per_s: float, stop: threading.Event) -> None:
        super().__init__(daemon=True)
        self.corpus = corpus
        self.dirs = dirs
        self.period = 1.0 / chunks_per_s
        self.stop_event = stop
        #: sensor -> [(created, epoch seconds; lines)] in publish order
        self.stamps: dict[str, list[tuple[float, int]]] = {s: [] for s in dirs}
        #: per tick: seconds the publish ran behind its schedule
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            t0 = time.perf_counter()
            n = len(next(iter(self.corpus.chunks.values())))
            for i in range(n):
                due = t0 + i * self.period
                delay = due - time.perf_counter()
                if delay > 0 and self.stop_event.wait(delay):
                    return
                self.late.append(max(0.0, time.perf_counter() - due))
                for sensor, d in self.dirs.items():
                    lines = self.corpus.chunks[sensor][i]
                    tmp = os.path.join(d, f".chunk-{i:06d}.tmp")  # hidden from the source
                    with open(tmp, "w") as fh:
                        fh.write("\n".join(lines) + "\n")
                    os.rename(tmp, os.path.join(d, f"chunk-{i:06d}.log"))
                    self.stamps[sensor].append((time.time(), len(lines)))
        except BaseException as e:  # re-raised by the caller after join
            self.error = e


def live_tail(ctx: Ctx) -> Result:
    """Chunks arrive on a fixed schedule while the service runs with a
    processing-time trigger; each chunk's latency runs from its creation
    to the end of the micro-batch that committed it."""
    n_chunks = int(LIVE["chunks_per_s"] * ctx.seconds)
    corpus = gen.log_corpus(ctx.seed, chunks_per_sensor=n_chunks,
                            chunk_lines=LIVE["chunk_lines"],
                            n_addresses=LIVE["n_addresses"])
    warm = gen.log_corpus(ctx.seed + 1, **LIVE_WARM)
    res = ctx.result
    tr = ctx.tracer
    box = ctx.box

    def build(spark, conf):
        from takuan_spark.streaming.pipeline import compile_stream

        shutil.rmtree(box.path("in"), ignore_errors=True)
        for s in corpus.chunks:
            os.makedirs(box.path("in", s))
        write_chunks(warm, box.path("warm"))
        write_geo(spark, warm.geo, box.path("warm_geo"))
        geo_dim = write_geo(spark, corpus.geo, box.path("geo"))
        with tr.span("plans.compiler.compile"):
            compile_stream(spark, conf, geo_dim=geo_dim)
        return spark

    spark = ctx.setup(build)
    # the same service once through a small backlog before the clock starts
    warm_conf = write_conf(box.path("warm", "takuan.yml"), box.path("warm", "ssh"),
                           box.path("warm", "http"), LIVE_FLUSH_SECS)
    _, res.warm_s = timed(run_pass, service_argv(warm_conf, box.path("warm_geo"),
                                                 box.path("warm_out"), box.nproc),
                          Tracer(False))
    shutil.rmtree(box.path("warm_out"), ignore_errors=True)

    out = box.path("out")
    dirs = {s: box.path("in", s) for s in corpus.chunks}
    source_of = {s: f"/in/{s}]" for s in dirs}
    stop = threading.Event()
    g = Generator(corpus, dirs, LIVE["chunks_per_s"], stop)
    argv = service_argv(ctx.conf_path, box.path("geo"), out, box.nproc) + [
        "--timeout-secs", str(int(ctx.seconds + DRAIN_S + 60))]
    buf = io.StringIO()
    # traced runs trace odd micro-batches only, for the overhead
    gate = (lambda e: e % 2 == 1) if ctx.trace else None
    with patched_service(tr, gate) as queries, contextlib.redirect_stdout(buf):
        svc = ServiceThread(argv, queries)
        svc.start()
        try:
            q = svc.query(timeout=60)
            g.start()
            g.join(ctx.seconds + 30)
            want = sum(n for st in g.stamps.values() for _, n in st)
            deadline = time.perf_counter() + DRAIN_S
            while time.perf_counter() < deadline and q.exception() is None:
                batches = {p["batchId"]: p for p in progress_of(q)}
                if sum(p["numInputRows"] for p in batches.values()) >= want:
                    break
                time.sleep(0.1)
        finally:
            stop.set()
            if g.ident is not None:
                g.join(30)
            for started in queries:
                started.stop()
            svc.join(60)
    if g.error is not None:
        raise g.error
    if svc.error is not None:
        raise svc.error
    progress = progress_of(q)
    lat = [x for s in chunk_latencies(g.stamps, progress, source_of).values() for x in s]
    res.latencies = [x for x in lat if x is not None]
    res.attempted = len(lat)
    res.failed = sum(1 for x in lat if x is None or x > LATENCY_LIMIT_S)
    published = gen.LogTruth()
    for sensor, st in g.stamps.items():
        for ct in corpus.chunk_truth[sensor][: len(st)]:
            published.add(ct)
    bad = [f"query failed: {q.exception()}"] if q.exception() is not None else \
        check_service_output(out, published, corpus.geo, summary_lines(buf.getvalue()))
    if bad:
        log(f"live_tail: mismatch in {', '.join(bad)}")
        res.failed = res.attempted
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    res.op_s = [p["durationMs"]["triggerExecution"] / 1000 for p in data]
    first = min((t for st in g.stamps.values() for t, _ in st), default=0.0)
    last = max((end for end, _ in batch_ends(progress, source_of)), default=first)
    res.records = published.lines
    res.rate = published.lines / max(1e-9, last - first)
    res.notes["chunks"] = len(lat)
    res.notes["generator_late_max_s"] = max(g.late, default=0.0)
    log(f"warm-up {res.warm_s:.2f} s, batches {[round(t, 2) for t in res.op_s]} s")
    if ctx.trace:
        res.op_s = [p["durationMs"]["triggerExecution"] / 1000 for p in data
                    if p["batchId"] % 2 == 0]
        res.traced_op_s = [p["durationMs"]["triggerExecution"] / 1000 for p in data
                           if p["batchId"] % 2 == 1]
        layers = stream_layers([progress], tr)
        layers.update(ctx.setup_layers())
        layers["sources.lag_lines_max"] = float(lag_lines_max(g.stamps, progress, source_of))
        layers["sinks.db.rows"] = float(published.events)  # checked at the end
        n, size = parquet_files(f"{out}/events", f"{out}/quarantine")
        layers["sinks.writers.files_written"] = float(n)
        layers["sinks.writers.bytes_written"] = float(size)
        layers["bench.generator_late_s"] = max(g.late, default=0.0)
        res.layers = layers
    return res


# --------------------------------------------------------- report_refresh

def report_refresh(ctx: Ctx) -> Result:
    """Reports over a stored events history: the address report to CSV,
    the country top-k, and the merged report over per-epoch partials."""
    import pandas as pd

    hist = gen.event_history(ctx.seed, **REPORT)
    expected = gen.expected_report(hist.counts, hist.geo)
    topk = gen.expected_topk(hist.counts, hist.geo)
    res = ctx.result
    res.records = REPORT["n_events"]
    tr = ctx.tracer
    box = ctx.box
    pdf = pd.DataFrame(
        [(e, *r) for e, rows in enumerate(hist.epochs) for r in rows],
        columns=["epoch", "created_at", "address", "country_code", "country_name",
                 "sensor", "rule"])
    per_append = -(-REPORT["n_epochs"] // REPORT_APPENDS)

    def build(spark, conf):
        from pyspark.sql import functions as F

        from takuan_spark.sinks.writers import write_events

        shutil.rmtree(box.path("in"), ignore_errors=True)
        events_path = box.path("in", "events")
        partials_path = box.path("in", "partials")
        staged = spark.createDataFrame(pdf).select(
            "epoch",
            F.col("created_at").cast("timestamp").alias("created_at"),
            F.col("created_at").cast("timestamp").alias("detected_at"),
            F.lit("bench-node").alias("node_name"),
            "address", "country_code", "country_name", "sensor", "rule",
            F.concat_ws(" ", "sensor", "rule", "address").alias("payload"),
            F.lit(None).cast("timestamp").alias("reported_at"),
        ).persist()
        for k in range(REPORT_APPENDS):
            lo = k * per_append
            batch = staged.where(F.col("epoch").between(lo, lo + per_append - 1))
            with tr.span("sinks.writers.write_events"):
                write_events(batch.drop("epoch"), events_path)
        # per-epoch partials, in the layout report_stream.report_sink writes
        (
            staged.groupBy("epoch", "address", "sensor", "rule", "country_code",
                           "country_name")
            .agg(F.count("*").alias("n"))
            .write.partitionBy("epoch").parquet(partials_path)
        )
        staged.unpersist()
        return spark, events_path, partials_path

    spark, events_path, partials_path = ctx.setup(build)

    def op(i):
        return refresh(spark, events_path, partials_path, box.path("out", str(i)), tr)

    report_rows: list[int] = []

    def check(i, result):
        out, got_topk, merged = result
        report = read_csv_report(out)
        report_rows.append(len(report))
        bad = [name for name, ok in (
            ("address report", report == expected),
            ("country top-k", got_topk == topk),
            ("merged report", merged == expected),
        ) if not ok]
        shutil.rmtree(out, ignore_errors=True)
        if bad:
            log(f"report_refresh op {i}: mismatch in {', '.join(bad)}")
        return not bad

    ctx.loop(op, check)
    if ctx.trace:
        spans = tr.durations()
        n, size = parquet_files(events_path)
        layers = ctx.setup_layers()
        layers.update({
            "sources.scan_s": prefix_run(spark.read.parquet(events_path), "scan")[0],
            "sinks.writers.write_events_s": sum(spans["sinks.writers.write_events"])
            / SETUP_REPS,
            "sinks.writers.files_written": float(n),
            "sinks.writers.bytes_written": float(size),
            "operators.reports.address_report_s": median(
                spans.get("operators.reports.address_report", [])),
            "operators.reports.country_topk_s": median(
                spans.get("operators.reports.country_topk", [])),
            "operators.reports.distinct_addresses": float(median(report_rows)),
            "streaming.report_stream.merged_report_s": median(
                spans.get("streaming.report_stream.merged_report", [])),
            "streaming.report_stream.partial_rows": float(
                spark.read.parquet(partials_path).count()),
        })
        res.layers = layers
    return res


def refresh(spark, events_path: str, partials_path: str, out: str, tracer: Tracer):
    """One report refresh; returns (CSV dir, top-k rows, merged rows)."""
    from takuan_spark.operators.reports import address_report, country_topk
    from takuan_spark.sinks.writers import write_csv_report
    from takuan_spark.streaming.report_stream import merged_report

    events = spark.read.parquet(events_path)
    with tracer.span("operators.reports.address_report"):
        write_csv_report(address_report(events), out)
    with tracer.span("operators.reports.country_topk"):
        got_topk = [(r["country_code"], r["total_events"])
                    for r in country_topk(events).collect()]
    with tracer.span("streaming.report_stream.merged_report"):
        merged = [tuple(r) for r in merged_report(spark, partials_path).collect()]
    return out, got_topk, merged


def read_csv_report(out: str) -> list[tuple]:
    import csv
    import glob

    rows = []
    for path in sorted(glob.glob(f"{out}/part-*.csv")):
        with open(path, newline="") as fh:
            for r in csv.DictReader(fh):
                rows.append((r["address"], r["country_code"] or None,
                             r["country_name"] or None, int(r["total_events"]),
                             r["counters"]))
    return rows


#: input sizes per workload, stamped into each result's provenance
SIZES = {"backfill": BACKFILL, "live_tail": LIVE, "report_refresh": REPORT}

WORKLOADS = {
    "backfill": backfill,
    "live_tail": live_tail,
    "report_refresh": report_refresh,
}
