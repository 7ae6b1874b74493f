"""Benchmark of record for the takuan_spark log-analytics engine."""
