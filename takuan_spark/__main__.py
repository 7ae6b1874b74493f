"""Service entry point: ``python -m takuan_spark --config <yml>``.

The runnable analog of the reference binary (ref: cmd/takuan/main.go:19-33,
cmd/takuan/vars.go:20): load the YAML pipeline config, start the streaming
service over the configured sensor directories, attach the periodic report
job, and (like the reference's ``-geo`` flag rebuilding geo data) offer a
batch re-enrichment mode over the events table.

Modes:

- default: start the streaming pipeline (flush every ``database.period``
  seconds, exactly the reference's DB ticker) and run until interrupted.
- ``--batch``: drain whatever input is currently in the sensor
  directories with ``trigger(availableNow)``, write events + reports,
  exit. This is the catch-up / cron-shaped run; a backlog larger than
  ``streaming.pipeline.MAX_EPOCH_BYTES`` per sensor drains as several
  epochs, each with its own report.
- ``--geo``: one-shot geo re-enrichment batch job over the existing
  events table (O28, ref: core/aggregator.go:177-203) using
  ``--geo-dim``, then exit.

The report job (ref: core/reporter.go + twitter.go) runs as a
``post_hook`` on each flushed micro-batch: per-address report CSV +
country top-k, and the formatted country summary (with emoji flags,
ref core/twitter.go:88) printed to stdout — stdout standing in for the
reference's tweet/git side effects, which stay out of engine scope.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import SparkSession

from takuan_spark.config import load_config
from takuan_spark.session import get_spark


def _load_geo_dim(spark: SparkSession, path: str):
    if path.endswith(".csv"):
        return spark.read.option("header", "true").csv(path)
    return spark.read.parquet(path)


def _report_hook(out_dir: str, webhook_url: str | None = None):
    """Per-flush report job: address report CSV, country top-k and the
    formatted summary on stdout (and POSTed to ``webhook_url`` if set).
    The hook gets the epoch's good rows as the Arrow table
    ``streaming.pipeline.split_sink`` collected, and runs no Spark job:
    ``epoch_partial`` counts them per attack key with Arrow's
    ``group_by`` and ``fold_partial`` folds that partial into the rows
    ``address_report``, ``country_topk`` and ``count()`` give over the
    same rows. The reference's report is hourly; here it runs once per
    flushed epoch, and ``reports.period`` is ignored (period scheduling
    belongs to the caller's cron; the engine-side contract is 'a report
    per delivered batch'). The CSV is named by epoch, so a replayed
    epoch rewrites its own file.

    Besides the epoch, which ``split_sink`` already holds, the driver
    holds its partial, one Arrow row per distinct attack key, and the
    fold's working set, a few hundred bytes per key at its peak. A
    catch-up run reads at most ``streaming.pipeline.MAX_EPOCH_BYTES`` per
    sensor directory per epoch, so a backlog is folded one bounded epoch
    at a time.

    A webhook that cannot be reached is logged to stderr and skipped: by
    then the CSV and the summary are written, and raising would fail the
    streaming query and replay the epoch."""
    from takuan_spark.operators.reports import (
        epoch_partial,
        fold_partial,
        format_country_summary,
    )
    from takuan_spark.sinks.publish import webhook_publisher
    from takuan_spark.sinks.writers import write_csv_table

    send = webhook_publisher(webhook_url) if webhook_url else None

    def hook(events, epoch_id: int) -> None:
        report, countries = fold_partial(epoch_partial(events))
        total = sum(r.total_events for r in countries)
        if not total:
            return
        write_csv_table(report, f"{out_dir}/address_report_{epoch_id:06d}.csv")
        status = format_country_summary(countries[:5], total)
        print(status, flush=True)
        if send:  # the reference's tweet (twitter.go:82-99), generalized
            try:
                send({"epoch_id": epoch_id, "n_events": total, "status": status})
            except OSError as e:  # URLError, HTTPError, timeouts
                print(f"webhook failed for epoch {epoch_id}: {e}",
                      file=sys.stderr, flush=True)

    return hook


def _run_geo_batch(spark: SparkSession, events_path: str, geo_dim_path: str) -> int:
    """--geo: refresh country columns across the whole events table
    (broadcast re-enrich), swapping the table directory.

    The rewrite PRESERVES the streaming sink's ``event_date``
    partitioning (writers.py:write_epoch) — a flat rewrite would leave
    partition dirs and flat part files under one root and every later
    read would fail on conflicting directory structures. The swap
    sequence also cleans up leftovers from a previously crashed swap
    first (a stale ``__geo_old``/``__geo_tmp`` would otherwise fail the
    renames), and restores the original directory if the final rename
    cannot complete."""
    from takuan_spark.operators.enrich import re_enrich

    events = spark.read.parquet(events_path)
    refreshed = re_enrich(events, _load_geo_dim(spark, geo_dim_path))
    tmp = events_path.rstrip("/") + "__geo_tmp"
    old = events_path.rstrip("/") + "__geo_old"
    for leftover in (tmp, old):  # crashed prior swap
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    writer = refreshed.write.mode("overwrite")
    if "event_date" in refreshed.columns:
        writer = writer.partitionBy("event_date")
    writer.parquet(tmp)
    os.rename(events_path, old)
    try:
        os.rename(tmp, events_path)
    except OSError:
        os.rename(old, events_path)  # roll back: table stays readable
        raise
    shutil.rmtree(old)
    print(f"re-enriched events table at {events_path}", flush=True)
    return 0


def _run_sql(args) -> int:
    """Ad-hoc SQL mode: register available tables as views, run one
    statement declaratively (full Catalyst planning — this is just
    ``spark.sql``), stream the result to stdout as CSV. Output goes
    through ``toLocalIterator`` so the driver holds one partition at a
    time, not the whole result."""
    import csv
    import re
    import sys

    if args.tables and not os.path.isdir(args.tables):
        print(
            f"error: --tables directory not found: {args.tables}",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name="takuan-sql", master=args.master)
    events_path = f"{args.out}/events"
    if os.path.isdir(events_path):
        spark.read.parquet(events_path).createOrReplaceTempView("events")
    if args.tables:
        registered: dict[str, str] = {}
        for fname in sorted(os.listdir(args.tables)):
            if fname.endswith(".parquet"):
                # view names must be identifiers: a part file like
                # part-00000.snappy.parquet would otherwise abort the
                # whole session on registration
                view = re.sub(
                    r"\W", "_", fname[: -len(".parquet")]
                ).lstrip("0123456789_") or "t"
                # two files sanitizing to one identifier would silently
                # shadow each other (last registered wins) and a query
                # would read the wrong table — fail loudly instead
                if view in registered:
                    print(
                        f"error: table files {registered[view]!r} and "
                        f"{fname!r} both register as view {view!r}; "
                        "rename one",
                        file=sys.stderr,
                    )
                    return 2
                registered[view] = fname
                spark.read.parquet(
                    os.path.join(args.tables, fname)
                ).createOrReplaceTempView(view)
    df = spark.sql(args.sql)
    _emit_csv(df)
    return 0


def _emit_csv(df) -> None:
    """Stream a result to stdout as CSV via ``toLocalIterator`` — the
    driver holds one partition at a time, never the whole result."""
    import csv
    import sys

    writer = csv.writer(sys.stdout)
    writer.writerow(df.columns)
    for row in df.toLocalIterator():
        writer.writerow(list(row))


def _run_query(args) -> int:
    """--query: run one registered query by name over a table directory
    (the builders ``tests/test_oracle.py`` checks against DuckDB) and
    print CSV."""
    import sys

    from takuan_spark.queries import REGISTRY, _load

    _load()
    if args.query not in REGISTRY:
        close = [n for n in sorted(REGISTRY) if args.query in n][:8]
        hint = f"; close matches: {', '.join(close)}" if close else ""
        print(f"error: unknown query {args.query!r}{hint}", file=sys.stderr)
        return 2
    if not args.sf_dir or not os.path.isdir(args.sf_dir):
        print(
            "error: --query requires --sf-dir pointing at a directory of "
            "the test tables (events/customer/nation/documents parquet)",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name=f"takuan-q-{args.query}", master=args.master)
    _emit_csv(REGISTRY[args.query].builder(spark, args.sf_dir))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="takuan_spark",
        description="PySpark-native log-analytics service (reference-parity CLI)",
    )
    ap.add_argument(
        "--config",
        default=None,
        help="pipeline YAML (reference shape); required for every mode "
        "except --sql",
    )
    ap.add_argument("--out", default="./takuan_out", help="output root directory")
    ap.add_argument(
        "--db",
        default=None,
        help="also land events in this DuckDB file (exactly-once per "
        "micro-batch — the reference's MySQL sink analog)",
    )
    ap.add_argument(
        "--jdbc-url",
        default=None,
        help="also land events over JDBC (exactly-once staging+promote; "
        "embedded Derby URL works out of the box, e.g. "
        "jdbc:derby:/path/db;create=true)",
    )
    ap.add_argument(
        "--jdbc-driver",
        default=None,
        help="JDBC driver class (default: embedded Derby)",
    )
    ap.add_argument(
        "--webhook-url",
        default=None,
        help="POST the per-batch report summary to this endpoint "
        "(the reference's tweet, generalized)",
    )
    ap.add_argument("--geo-dim", default=None, help="geo dimension parquet/csv")
    ap.add_argument(
        "--batch", action="store_true", help="drain available input and exit"
    )
    ap.add_argument(
        "--geo",
        action="store_true",
        help="one-shot geo re-enrichment over the events table, then exit",
    )
    ap.add_argument(
        "--tail",
        action="store_true",
        help="treat each sensor filename as ONE live log file and tail "
        "it byte-by-byte (the reference sensor's exact mode; default "
        "treats paths as chunk directories)",
    )
    ap.add_argument(
        "--sql",
        default=None,
        help="ad-hoc mode: run one SQL statement and print CSV to "
        "stdout. The events table at --out/events (if present) is "
        "registered as `events`; every parquet file in --tables is "
        "registered under its basename.",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="directory of parquet files to register as views for --sql",
    )
    ap.add_argument(
        "--query",
        default=None,
        help="run one registered report query by name over --sf-dir "
        "and print CSV to stdout (see --list-queries)",
    )
    ap.add_argument(
        "--sf-dir",
        default=None,
        help="table directory for --query (parquet files named "
        "events/customer/nation/documents)",
    )
    ap.add_argument(
        "--list-queries",
        action="store_true",
        help="list every registered query with its description and exit",
    )
    ap.add_argument("--master", default="local[*]")
    ap.add_argument(
        "--timeout-secs",
        type=int,
        default=None,
        help="stop the stream after N seconds (service runs forever without it)",
    )
    args = ap.parse_args(argv)

    if args.list_queries:
        from takuan_spark.queries import REGISTRY, _load

        _load()
        for name in sorted(REGISTRY):
            desc = " ".join((REGISTRY[name].description or "").split())
            print(f"{name}\t{desc[:120]}")
        return 0
    if args.query is not None:
        return _run_query(args)
    if args.sql is not None:
        return _run_sql(args)
    if args.config is None:
        ap.error(
            "--config is required for every mode except --sql/--query/"
            "--list-queries"
        )

    config = load_config(args.config)
    spark = get_spark(app_name=f"takuan-{config.node_name}", master=args.master)
    events_path = f"{args.out}/events"
    if args.geo:
        if not args.geo_dim:
            ap.error("--geo requires --geo-dim")
        return _run_geo_batch(spark, events_path, args.geo_dim)

    from takuan_spark.streaming.pipeline import start_pipeline

    report_hook = _report_hook(f"{args.out}/reports", args.webhook_url)
    db_sinks = []
    if args.db:
        from takuan_spark.sinks.db import duckdb_exactly_once_sink

        db_sinks.append(duckdb_exactly_once_sink(args.db, "events"))
    if args.jdbc_url:
        from takuan_spark.sinks.jdbc import DERBY_DRIVER, jdbc_exactly_once_sink

        jdbc_sink = jdbc_exactly_once_sink(
            args.jdbc_url, "events", driver=args.jdbc_driver or DERBY_DRIVER,
        )
        # a Spark-writer sink: it gets the epoch back as a DataFrame
        db_sinks.append(
            lambda events, epoch_id: jdbc_sink(spark.createDataFrame(events), epoch_id)
        )

    if db_sinks:

        def hook(events, epoch_id: int) -> None:
            for sink in db_sinks:
                sink(events, epoch_id)
            report_hook(events, epoch_id)

    else:
        hook = report_hook

    geo_dim = _load_geo_dim(spark, args.geo_dim) if args.geo_dim else None
    query = start_pipeline(
        spark,
        config,
        events_path=events_path,
        quarantine_path=f"{args.out}/quarantine",
        checkpoint_path=f"{args.out}/checkpoint",
        geo_dim=geo_dim,
        available_now=args.batch,
        post_hook=hook,
        tail_files=args.tail,
    )
    if args.batch:
        query.awaitTermination()
    elif args.timeout_secs is not None:
        query.awaitTermination(args.timeout_secs)
        query.stop()
    else:  # pragma: no cover - interactive service mode
        query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
