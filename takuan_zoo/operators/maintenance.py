"""Table-maintenance planners: small-file compaction binning and
zone-map prune estimation (SURVEY.md §2.2 scale tooling).

At 100 TB a table is tens of millions of files, and the two levers that
keep scans cheap are (1) compacting small files into target-sized ones
so the scheduler isn't drowned in splits, and (2) laying rows out so
file-level min/max statistics (zone maps) prune most files for common
predicates. Both levers need PLANNERS that run as queries over file
metadata — which is itself a (much smaller) table — before any rewrite
job is launched. These operators are those planners:

- :func:`compaction_bins` assigns files to compaction output bins by a
  deterministic running-sum split per partition: files are taken in a
  stable order and a new bin starts whenever the accumulated size
  crosses the target. One window over (partition, order) — the window
  state is a running sum per partition, never the file list.
- :func:`zonemap_stats` computes per-file min/max zone maps with one
  hash aggregate, and :func:`prune_estimate` counts the files a range
  predicate could skip (prunable iff ``max < lo OR min > hi``). Run it
  against two candidate layouts (e.g. natural insert order vs a
  Z-order key from :mod:`takuan_zoo.operators.layout`) and the
  difference IS the scan cost the re-layout buys.

Everything is built-in expressions (windows + aggregates) — no UDFs,
no driver materialization; both planners scale to a 100 M-file
manifest because they shuffle only (partition key, size) pairs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def compaction_bins(
    files: DataFrame,
    *,
    size_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str],
    target_bytes: int,
) -> DataFrame:
    """Assign each file a compaction ``bin`` per partition.

    Files are ordered by ``order_cols`` within each partition; the bin
    id is ``floor(exclusive_running_sum / target_bytes)`` — the
    deterministic sequential packing every compactor (Delta OPTIMIZE,
    Iceberg rewrite_data_files) uses, expressed as one window. A bin
    may exceed the target by at most one file, never undershoot-split.

    The running sum uses an explicit ROWS frame, so the packing
    invariant holds even when ``order_cols`` has ties; for a fully
    DETERMINISTIC assignment (same file -> same bin across runs and
    engines) callers must include a unique tiebreak column in
    ``order_cols``, as the registered queries do with the file id.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    # ROWS frame, not the default RANGE frame: with RANGE, tied
    # order_cols values all receive the same inclusive running sum,
    # which breaks the at-most-one-file overshoot invariant whenever
    # order_cols are not unique (and diverges from the ROWS-framed
    # oracle).
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(size_col).over(w) - F.col(size_col)
    return files.withColumn(
        "bin", F.floor(running / F.lit(target_bytes)).cast("bigint")
    )


def compaction_plan(
    files: DataFrame,
    *,
    size_col: str,
    order_cols: Sequence[str],
    partition_cols: Sequence[str],
    target_bytes: int,
) -> DataFrame:
    """Roll :func:`compaction_bins` up to one row per output bin:
    input-file count and total bytes — the job manifest a rewrite
    stage consumes."""
    binned = compaction_bins(
        files,
        size_col=size_col,
        order_cols=order_cols,
        partition_cols=partition_cols,
        target_bytes=target_bytes,
    )
    return binned.groupBy(*partition_cols, "bin").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(size_col).cast("bigint").alias("bytes"),
    )


def zonemap_stats(
    rows: DataFrame, *, file_col: str, value_cols: Sequence[str]
) -> DataFrame:
    """Per-file min/max zone maps: one hash aggregate keyed by the
    file id (map-side partials bound shuffle volume at one row per
    file per value column pair)."""
    aggs = []
    for c in value_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return rows.groupBy(file_col).agg(*aggs)


def prune_estimate(
    zonemaps: DataFrame, *, col: str, lo: Column, hi: Column
) -> DataFrame:
    """Count files a ``col BETWEEN lo AND hi`` predicate can skip:
    prunable iff the file's zone map proves no overlap. Returns one
    row: n_files, n_prunable, scan_fraction (the number that matters
    in the 100 TB cost model)."""
    prunable = (F.col(f"{col}_max") < lo) | (F.col(f"{col}_min") > hi)
    return zonemaps.agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(prunable.cast("bigint")).cast("bigint").alias("n_prunable"),
        F.round(
            1.0 - F.sum(prunable.cast("bigint")) / F.count("*"), 6
        ).alias("scan_fraction"),
    )


def deletion_cascade(
    docs: DataFrame,
    delete_pred: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    chunk_overlap: int = 16,
) -> DataFrame:
    """Right-to-be-forgotten audit: before/after row counts for every
    artifact a deletion must propagate through — the compliance table
    proving a delete request actually cascaded. Artifacts:

    - ``documents`` — the corpus itself;
    - ``chunks`` — derived RAG chunks, removed by anti-join on the
      deleted ids (the physical shape of a derived-table delete: no
      recompute, one hash-partitioned anti-join on the id);
    - ``fingerprints`` — the dedup fingerprint table, where a
      fingerprint survives iff ANY RETAINED doc still carries it:
      duplicate content shared with a retained doc must NOT vanish
      from the dedup state, and forgetting that rule either breaks
      future dedup (over-delete) or retains the deleted content's
      hash with no owner (under-delete).

    One pass per artifact, all counts conditional aggregates; output
    (artifact, rows_before, rows_after, rows_deleted) ordered by
    artifact name."""
    from takuan_zoo.operators.curation import chunk_documents
    from takuan_zoo.operators.text import fingerprint

    flagged = docs.withColumn("_del", delete_pred)
    doc_counts = flagged.agg(
        F.lit("documents").alias("artifact"),
        F.count(F.lit(1)).cast("bigint").alias("rows_before"),
        F.sum((~F.col("_del")).cast("bigint"))
        .cast("bigint")
        .alias("rows_after"),
    )
    chunks = chunk_documents(
        docs, size=chunk_size, overlap=chunk_overlap
    ).select(id_col)
    deleted_ids = flagged.where(F.col("_del")).select(
        F.col(id_col), F.lit(True).alias("_gone")
    )
    chunk_counts = (
        chunks.join(deleted_ids, id_col, "left")
        .withColumn("_gone", F.coalesce("_gone", F.lit(False)))
        .agg(
            F.lit("chunks").alias("artifact"),
            F.count(F.lit(1)).cast("bigint").alias("rows_before"),
            F.sum((~F.col("_gone")).cast("bigint"))
            .cast("bigint")
            .alias("rows_after"),
        )
    )
    fps = flagged.select(
        fingerprint(F.col(text_col)).alias("fp"), "_del"
    )
    fp_counts = (
        fps.groupBy("fp")
        .agg(F.max((~F.col("_del")).cast("int")).alias("_retained"))
        .agg(
            F.lit("fingerprints").alias("artifact"),
            F.count(F.lit(1)).cast("bigint").alias("rows_before"),
            F.sum("_retained").cast("bigint").alias("rows_after"),
        )
    )
    return (
        doc_counts.unionByName(chunk_counts)
        .unionByName(fp_counts)
        .select(
            "artifact",
            "rows_before",
            "rows_after",
            (F.col("rows_before") - F.col("rows_after"))
            .cast("bigint")
            .alias("rows_deleted"),
        )
        .orderBy("artifact")
    )
