"""Source readers: batch JSON/CSV readers and the byte-offset file-tail
data source (``sources.tail_source``)."""

from takuan_spark.sources.readers import (  # noqa: F401
    read_csv,
    read_json,
)
