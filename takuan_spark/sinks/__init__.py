"""Sink writers."""

from takuan_spark.sinks.writers import (  # noqa: F401
    write_csv_report,
    write_events,
)
