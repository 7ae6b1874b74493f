"""takuan_spark — a PySpark log-analytics service with the semantics of
evilsocket/takuan.

The reference (~1,200 LoC of Go) is a streaming log-analytics service:
tail log files, regex-parse lines into tokens, match attack-detection
rules, geo-enrich, micro-batch to a database, and periodically emit
per-attacker and per-country aggregate reports.

This package re-expresses that service Spark-first
(``python -m takuan_spark``):

- ``config``     — the declarative sensor/pipeline spec (same YAML shape
                   as the reference's config.example.yml).
                   Ref: core/config.go.
- ``plans``      — config → DataFrame plans (tokenize → rules →
                   datetime), shared by batch and streaming.
- ``operators``  — parse (regex tokenize projection), rules (ordered
                   first-match-wins predicate labeling), enrich (broadcast
                   geo / reverse-DNS joins), reports (the one
                   per-address report fold and country top-k).
- ``sources``    — the byte-offset file-tail data source.
- ``sinks``      — parquet/CSV writers, the exactly-once DuckDB and JDBC
                   sinks, and the report publishers (file drop, git,
                   webhook).
- ``streaming``  — Structured Streaming wrap of the compiled pipeline
                   (micro-batch trigger, checkpointing, quarantine) and
                   the per-epoch report partials with their merged
                   report.
- ``queries``    — the reference's report semantics as named
                   (spark_builder, oracle_sql) pairs over the test
                   tables; ``--list-queries`` prints them.

Everything is built on the DataFrame API so Catalyst provides predicate
pushdown, column pruning, join planning and whole-stage codegen; Python
row UDFs are never on the hot path.
"""

__version__ = "0.1.0"
