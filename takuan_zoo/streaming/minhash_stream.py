"""Incrementally-maintained group-grain MinHash signatures — the
MIN-merge member of the maintainer family.

Every maintainer in this package is one mergeable algebra made
runnable: counts/power sums merge by ADDITION (report, CMS, moments),
HLL registers by MAX, KMV/Bloom/dedup state by SET UNION, sessions by
INTERVAL UNION, histograms by GRID SUM. MinHash signatures complete
the taxonomy: the signature of a shingle-set union is the ELEMENT-WISE
MIN of the per-set signatures, so per-epoch partials (one (group, i,
mh) row per group per permutation) fold to the exact global signature
with one min-aggregation — and any reader can then estimate pairwise
group Jaccard from the merged signatures alone.

At 100 TB this is cross-source similarity freshness at O(batch) cost:
the maintained state is groups x num_hashes ints per epoch (never
shingle-scale), and the pairwise estimate touches only signatures.
The md5+affine hash family (operators/hashing.py) keeps every integer
oracle-reproducible; exactly-once via dynamic epoch-partition
overwrite like every maintainer here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_spark.operators.skew import spread
from takuan_zoo.operators.dedup import ngram_array
from takuan_zoo.operators.hashing import (
    MERSENNE31,
    affine_params,
    md5_int,
)


def shingle_hashes(
    batch: DataFrame,
    *,
    group_col: str,
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The corpus-scale pass: (group[, extra...], h) — one md5 per
    shingle. Split out of :func:`partial_group_signatures` so a caller
    that folds SEVERAL epoch partials from the same input (the batch
    analog query) hashes the corpus exactly once and splits the cheap
    hashed frame, instead of re-shingling per epoch. ``extra_cols``
    carries split keys (e.g. an epoch tag) through the explode."""
    cols = [group_col, *extra_cols]
    # spread: the md5-per-shingle map is the cost and the source
    # table's row-group count would cap it at ~2 of 32 cores
    # (measured 9.3 s -> the spread form below; same guard as
    # ns_hll_distinct)
    return (
        spread(batch.select(*cols, text_col))
        .select(
            *cols,
            F.explode(ngram_array(F.col(text_col), n)).alias("shingle"),
        )
        .select(*cols, md5_int("shingle").alias("h"))
    )


def fold_signature_partials(
    hashed: DataFrame,
    *,
    group_col: str,
    num_hashes: int = 64,
    seed: int = 42,
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Signature partials (extra..., group, i, mh) from a pre-hashed
    shingle frame (:func:`shingle_hashes` output): the per-group
    minimum of each affine map. Duplicated shingles cannot move a
    minimum, so no distinct pass is needed. ``extra_group_cols``
    (e.g. an epoch tag) lets a batch backfill fold EVERY epoch's
    partials in one grouped aggregation — the per-(epoch, group) rows
    are identical to folding each epoch separately, because min never
    crosses group boundaries."""
    gcols = [*extra_group_cols, group_col]
    params = affine_params(num_hashes, seed=seed)
    # 64 min-aggregate EXPRESSIONS over the shingle rows, never a
    # 64-way row explode (the same shape argument as
    # dedup.minhash_signatures: lane-exploding multiplies the shuffle
    # input by num_hashes; measured 6.6x at the 10x probe before this
    # form) — then unpivot the tiny per-group wide row to (group, i, mh)
    wide = hashed.groupBy(*gcols).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE31).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    lanes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"), F.col(f"m{i}").alias("mh")
                )
                for i in range(num_hashes)
            ]
        )
    )
    return wide.select(*gcols, lanes.alias("l")).select(
        *gcols, "l.i", "l.mh"
    )


def partial_group_signatures(
    batch: DataFrame,
    *,
    group_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Per-batch signature partials: (group, i, mh) — shingle-hash the
    batch (:func:`shingle_hashes`) then min-fold the affine maps
    (:func:`fold_signature_partials`)."""
    return fold_signature_partials(
        shingle_hashes(batch, group_col=group_col, text_col=text_col, n=n),
        group_col=group_col,
        num_hashes=num_hashes,
        seed=seed,
    )


def minhash_sink(
    table_path: str,
    *,
    group_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    seed: int = 42,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink appending each epoch's signature partials
    (epoch replay overwrites its own partition — idempotent)."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        (
            partial_group_signatures(
                batch,
                group_col=group_col,
                text_col=text_col,
                num_hashes=num_hashes,
                n=n,
                seed=seed,
            )
            .withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(table_path)
        )

    return _sink


def start_minhash_stream(
    docs: DataFrame,
    table_path: str,
    checkpoint_path: str,
    *,
    group_col: str,
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
    seed: int = 42,
    available_now: bool = False,
    trigger_secs: int = 10,
):
    writer = docs.writeStream.foreachBatch(
        minhash_sink(
            table_path,
            group_col=group_col,
            text_col=text_col,
            num_hashes=num_hashes,
            n=n,
            seed=seed,
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def merged_signatures(spark, table_path: str, *, group_col: str) -> DataFrame:
    """The current global signatures: element-wise min over epochs —
    identical to computing each group's signature over every shingle
    ingested (min is associative, commutative, idempotent)."""
    partials = spark.read.parquet(table_path).drop("epoch")
    return partials.groupBy(group_col, "i").agg(F.min("mh").alias("mh"))


def signature_pair_similarity(
    sigs: DataFrame, *, group_col: str, num_hashes: int = 64
) -> DataFrame:
    """Pairwise estimated Jaccard between groups from (group, i, mh)
    signatures: the matching-lane fraction, rounded to 6dp."""
    a = sigs.select(
        F.col(group_col).alias("ga"), "i", F.col("mh").alias("ma")
    )
    b = sigs.select(
        F.col(group_col).alias("gb"), "i", F.col("mh").alias("mb")
    )
    return (
        a.join(b, "i")
        .where(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(
            F.round(
                F.sum((F.col("ma") == F.col("mb")).cast("int"))
                / float(num_hashes),
                6,
            ).alias("est_jaccard")
        )
    )
