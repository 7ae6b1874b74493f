"""Partition-width helper for per-row CPU work (SURVEY.md §4.3).

Skew in this engine's joins and aggregations is AQE's job
(``spark.sql.adaptive.skewJoin``, on in our session); what remains is a
scan too narrow for the per-row work on top of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Ensure an expensive narrow projection runs wide.

    A small file (or a parquet file with one row group) is a single
    scan split, which serializes per-row CPU work (regex tokenize,
    shingling, hashing) on one core. Repartitions only when the scan
    has fewer partitions than the cluster has slots — on a properly
    split table this is a no-op and costs no shuffle.
    """
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect sessions expose neither sparkContext nor .rdd;
        # without introspection, leave the scan as planned.
        return df
    if n < par:
        return df.repartition(par)
    return df
