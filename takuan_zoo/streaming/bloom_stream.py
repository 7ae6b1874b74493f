"""Incrementally-maintained Bloom filter — the runtime-filter bit-set
as an epoch-partitioned maintained table.

Bloom filters are OR-mergeable: the filter of a key-set union is the
bitwise OR of the per-set filters, so the maintained form is simply
the DISTINCT occupied-bucket rows per epoch (at most ``mbits`` ints
each) and any reader folds epochs with one distinct-union — no
rebuild, no false negatives ever introduced by the merge. Append-only
by construction: new epochs can only SET bits, so a reader holding an
older fold is still correct for every key it admits (conservative —
it may reject keys added later, never pass-then-miss).

At 100 TB this is how the dim side of a runtime-filtered join stays
fresh: each batch contributes its occupied buckets (bounded by mbits,
not by batch size), and the probe side reads epochs x <= mbits ints —
never the dim's key history. Exactly-once via dynamic epoch-partition
overwrite, like every maintainer in this package.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators.bloom import bloom_buckets


def bloom_bucket_sink(
    table_path: str,
    *,
    key_col: str,
    mbits: int = 1024,
    k: int = 3,
    family: str = "md5",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink appending each epoch's DISTINCT occupied
    buckets (epoch replay overwrites its own partition — idempotent)."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        (
            bloom_buckets(
                batch, key_col=key_col, mbits=mbits, k=k, family=family
            )
            .distinct()
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(table_path)
        )

    return _sink


def start_bloom_stream(
    keys: DataFrame,
    table_path: str,
    checkpoint_path: str,
    *,
    key_col: str,
    mbits: int = 1024,
    k: int = 3,
    family: str = "md5",
    available_now: bool = False,
    trigger_secs: int = 10,
):
    writer = keys.writeStream.foreachBatch(
        bloom_bucket_sink(
            table_path, key_col=key_col, mbits=mbits, k=k, family=family
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def merged_bloom(spark, table_path: str) -> DataFrame:
    """The current filter: one-row ``(bloom array<int>)`` identical to
    :func:`takuan_zoo.operators.bloom.bloom_build` over every key
    ingested — the OR-merge is a distinct-union of bucket rows."""
    buckets = spark.read.parquet(table_path).select("b")
    return buckets.agg(F.sort_array(F.collect_set("b")).alias("bloom"))
