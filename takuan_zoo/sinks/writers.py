"""Zoo-only writers: training shards, clustered/z-ordered layouts, ORC
and the write-audit-publish swap. The service's writers live in
``takuan_spark.sinks.writers``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int,
    key_col: str,
    mode: str = "overwrite",
) -> None:
    """Write a corpus as ``n_shards`` deterministic shards — the output
    stage of a training-data pipeline (shard = pmod(xxhash64(key), n)).

    Membership is a pure function of the key: re-running the job, or
    running it on different cluster layouts, lands every row in the same
    shard, so downstream training dataloaders can resume/compare runs.

    The ``repartition(n_shards, shard)`` before ``partitionBy`` is the
    important part at scale: without it every one of the N input tasks
    writes a file into every shard directory (N x n_shards small files —
    the classic 100 TB write mistake); with it each shard is written by
    the task that owns it.
    """
    out = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    )
    (
        out.repartition(n_shards, "shard")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on ``cluster_cols``: range-partition
    across files, sort within each file.

    Clustering is what makes parquet min/max (and page-index) pruning
    effective at rest: a filter on a cluster column skips whole files /
    row groups instead of scanning everything. The repartitionByRange
    gives globally disjoint ranges per file; sortWithinPartitions gives
    monotone pages inside each. At 100 TB this is the difference between
    a point lookup scanning terabytes or megabytes.
    """
    cols = [F.col(c) for c in cluster_cols]
    out = (
        df.repartitionByRange(*( [n_files] if n_files else [] ), *cols)
        .sortWithinPartitions(*cols)
    )
    out.write.mode(mode).parquet(path)


def write_events_orc(df: DataFrame, path: str, *, mode: str = "append") -> None:
    """ORC twin of :func:`write_events` — same date partitioning, ORC
    files (stripe-statistics pruning instead of parquet row groups).
    One engine, two columnar formats at rest."""
    (
        df.withColumn("event_date", F.to_date("created_at"))
        .write.mode(mode)
        .partitionBy("event_date")
        .orc(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    a_col: str,
    b_col: str,
    a_bucket: Callable[[F.Column], F.Column] | None = None,
    b_bucket: Callable[[F.Column], F.Column] | None = None,
    bits: int = 8,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a table sorted by the Morton key of two columns — the
    OPTIMIZE ZORDER layout pass. After this write, parquet row-group
    min/max statistics are tight on BOTH dimensions, so scans filtered
    on either column skip most row groups (`q_zorder_locality` shows
    the bound; `tests/test_sinks.py` asserts it on the written files).

    ``a_bucket``/``b_bucket`` map each raw column into [0, 2^bits)
    (default: modulo for integral columns). The sort is
    ``sortWithinPartitions`` after a repartition on the key range —
    a total layout sort without a driver-side bottleneck."""
    from takuan_zoo.operators.layout import zorder_key2

    # pmod, not %: Spark's % keeps the sign, and a negative "bucket"
    # violates zorder_key2's [0, 2^bits) precondition — the Morton key
    # would be garbage for every negative id (signed hashes are common
    # here) and the layout would silently stop clustering.
    a = (
        F.pmod(F.col(a_col), F.lit(1 << bits))
        if a_bucket is None
        else a_bucket(F.col(a_col))
    )
    b = (
        F.pmod(F.col(b_col), F.lit(1 << bits))
        if b_bucket is None
        else b_bucket(F.col(b_col))
    )
    keyed = df.withColumn("_z", zorder_key2(a, b, bits=bits))
    # explicit n_files pins the range-partition (=file) count; without
    # it AQE sizes partitions by bytes, which on a small table folds
    # everything into one file (one row group, no pruning to show).
    ranged = (
        keyed.repartitionByRange(n_files, "_z")
        if n_files
        else keyed.repartitionByRange("_z")
    )
    (
        ranged
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def swap_live(path: str, staged: str) -> None:
    """Directory-rename swap: stage -> live, previous live kept as
    ``.old`` until the new one is in place (then reaped). Same-
    filesystem renames are atomic on POSIX, but the SEQUENCE is not:
    a crash between the two renames leaves ``.old`` beside an empty
    live path — recoverable by hand, never silently wrong. A reader
    racing that window sees path-not-found, not partial data. Shared
    by the WAP sink and the streaming compactors."""
    import os
    import shutil

    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old, ignore_errors=True)


class AuditFailure(RuntimeError):
    """A write-audit-publish validation failed; the live table was not
    touched."""


def wap_publish(
    df: DataFrame,
    path: str,
    *,
    checks: "list[Callable[[DataFrame], str | None]]",
    partition_by: str | None = None,
) -> None:
    """Write-Audit-Publish: land the table in a staging directory, run
    the validation checks against what was ACTUALLY written (re-read
    from disk, so schema drift and write corruption are caught too),
    and only then rename it live (:func:`swap_live` — each rename is
    atomic; a crash between the two leaves the previous version in
    ``.old``, recoverable, never a half-table). A failed check raises
    :class:`AuditFailure`, leaves the previous live table untouched,
    and keeps the staging directory for inspection.

    Each check takes the re-read DataFrame and returns ``None`` (pass)
    or a failure message. See ``not_empty`` / ``no_nulls`` /
    ``min_rows`` below for the common gates.

    This is the publication discipline a 100 TB corpus pipeline needs:
    downstream consumers only ever see tables that passed their gates,
    and a bad run costs a staging directory, not the corpus."""
    import os
    import shutil

    spark = df.sparkSession
    staged = path + ".staging"
    shutil.rmtree(staged, ignore_errors=True)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staged)

    written = spark.read.parquet(staged)
    failures = [msg for check in checks if (msg := check(written))]
    if failures:
        raise AuditFailure(
            f"WAP audit failed for {path}: " + "; ".join(failures)
            + f" (staging kept at {staged})"
        )
    swap_live(path, staged)


def not_empty(df: DataFrame) -> str | None:
    return None if df.limit(1).count() == 1 else "table is empty"


def min_rows(n: int) -> "Callable[[DataFrame], str | None]":
    def check(df: DataFrame) -> str | None:
        c = df.count()
        return None if c >= n else f"row count {c} < required {n}"

    return check


def no_nulls(*cols: str) -> "Callable[[DataFrame], str | None]":
    if not cols:
        raise ValueError("no_nulls() needs at least one column name")

    def check(df: DataFrame) -> str | None:
        cond = None
        for c in cols:
            e = F.col(c).isNull()
            cond = e if cond is None else cond | e
        bad = df.where(cond).limit(1).count()
        return None if bad == 0 else f"NULLs present in one of {cols}"

    return check
