"""Streaming sketch maintenance: per-micro-batch KMV sketches appended
to an epoch-partitioned sketch table, merged at read time.

The sketch property that makes this trivial: KMV state (the k smallest
distinct hashes) merges associatively — the sketch of a union is the
merge of the sketches. So streaming "state" needs no read-modify-write:
each epoch writes its own batch's sketches (k values per group, bytes
not gigabytes), and any reader folds all epochs with one
``kmv_merge`` + ``kmv_estimate``. A periodic compaction can fold old
epochs into one row per group, but correctness never requires it.

Exactly-once mirrors the ANN index stream: dynamic partition overwrite
on ``epoch=<id>`` makes a replayed micro-batch rewrite its own subtree
(sketches are deterministic functions of the batch), never duplicate —
and because the merge dedups hashes, even a hypothetical double-counted
epoch could not bias the estimate. That double safety is the reason to
store sketches, not counters, for streaming distincts.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators import sketches


_KMV_MARKER = "_KMV.json"


def _check_kmv_marker(table_path: str, k: int, *, write: bool) -> None:
    """The sketch parameter k is part of the table's identity: merging
    or estimating with a LARGER k than the sketches hold silently
    returns the saturation count as an 'exact' answer (n_kept < k takes
    the exact branch). The sink stamps k into a marker; readers and
    later sinks must match it."""
    import json

    marker = os.path.join(table_path, _KMV_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            stored = json.load(fh)["k"]
        if stored != k:
            raise ValueError(
                f"KMV sketch table {table_path} was built with k={stored}; "
                f"refusing k={k} (a larger k would silently underestimate)"
            )
    elif write:
        os.makedirs(table_path, exist_ok=True)
        with open(marker, "w") as fh:
            json.dump({"k": k}, fh)


def kmv_sketch_sink(
    table_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink: reduce the micro-batch to per-group KMV
    sketches and land them under ``epoch=<id>``, idempotently."""
    groups = list(group_cols)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        _check_kmv_marker(table_path, k, write=True)
        sk = sketches.kmv_sketches(
            batch, group_cols=groups, value_col=value_col, k=k
        ).withColumn("epoch", F.lit(epoch_id))
        (
            sk.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(table_path)
        )

    return _sink


def start_kmv_sketch_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 64,
    available_now: bool = False,
    trigger_secs: int = 10,
):
    """Maintain the sketch table over a streaming DataFrame."""
    writer = stream.writeStream.foreachBatch(
        kmv_sketch_sink(
            table_path, group_cols=group_cols, value_col=value_col, k=k
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def kmv_stream_estimate(
    spark,
    table_path: str,
    *,
    group_cols: Sequence[str],
    k: int = 64,
) -> DataFrame:
    """Current distinct-count estimates: fold every epoch's sketches.
    Input size is (groups x epochs x k) hashes — reading the sketch
    table never touches the raw stream data. Raises if ``k`` does not
    match the k the table was built with (marker-validated)."""
    groups = list(group_cols)
    _check_kmv_marker(table_path, k, write=False)
    sk = spark.read.parquet(table_path).drop("epoch")
    return sketches.kmv_estimate(
        sketches.kmv_merge(sk, group_cols=groups, k=k),
        group_cols=groups,
        k=k,
    )


def _swap_in(table_path: str, staged: str) -> None:
    """Directory-rename swap — delegates to the shared
    :func:`takuan_zoo.sinks.writers.swap_live` (one crash-semantics
    story for compactors and the WAP sink alike)."""
    from takuan_zoo.sinks.writers import swap_live

    swap_live(table_path, staged)


def last_committed_epoch(checkpoint_path: str) -> int | None:
    """Highest epoch id the streaming checkpoint has COMMITTED (the
    ``commits/`` directory holds one numeric file per fully-delivered
    micro-batch). Epochs <= this will never be replayed; the epoch
    AFTER it may be (foreachBatch ran, commit didn't land)."""
    commits = os.path.join(checkpoint_path, "commits")
    try:
        ids = [int(f) for f in os.listdir(commits) if f.isdigit()]
    except OSError:
        return None
    return max(ids) if ids else None


def resolve_compaction_horizon(checkpoint_path: str | None) -> int | None:
    """Committed-epoch horizon for a compaction run. ``None`` input
    means the caller asserts a cleanly-stopped stream (fold all). A
    checkpoint that yields NO committed epochs — mistyped path, moved
    directory, or zero commits — raises instead of silently degrading
    to the fold-everything path: folding a replayable epoch
    double-counts it when the restarted stream lands it again."""
    if checkpoint_path is None:
        return None
    horizon = last_committed_epoch(checkpoint_path)
    if horizon is None:
        raise ValueError(
            f"checkpoint {checkpoint_path!r} has no readable commits/ "
            "entries; refusing to compact (pass checkpoint_path=None "
            "only for a cleanly-stopped stream)"
        )
    return horizon


def _compact(
    spark, table_path: str, merge, *, checkpoint_path: str | None
) -> None:
    """Shared compaction core: fold COMMITTED epochs into epoch=0,
    leaving any possibly-replayable epoch partition untouched. Folding
    an uncommitted epoch would double-count it — the restarted stream
    replays it as a fresh epoch partition AFTER its data was already
    merged into epoch=0. With a ``checkpoint_path`` the committed
    horizon comes from the checkpoint's commits/ listing; without one
    the caller asserts a cleanly-stopped stream (every epoch on disk is
    committed) and everything folds. SINGLE-WRITER op either way: run
    while the maintainer stream is stopped."""
    df = spark.read.parquet(table_path)
    horizon = resolve_compaction_horizon(checkpoint_path)
    if horizon is not None:
        foldable = df.where(F.col("epoch") <= horizon)
        keep_ids = sorted(
            r["epoch"]
            for r in df.select("epoch").distinct().collect()
            if r["epoch"] > horizon
        )
    else:
        foldable = df
        keep_ids = []
    merged = merge(foldable.drop("epoch")).withColumn("epoch", F.lit(0))
    staged = table_path + ".compacting"
    shutil.rmtree(staged, ignore_errors=True)
    merged.write.mode("overwrite").partitionBy("epoch").parquet(staged)
    for eid in keep_ids:  # possibly-replayable epochs survive as-is
        shutil.copytree(
            os.path.join(table_path, f"epoch={eid}"),
            os.path.join(staged, f"epoch={eid}"),
        )
    marker = os.path.join(table_path, _KMV_MARKER)
    if os.path.exists(marker):  # table identity survives the re-layout
        shutil.copy2(marker, os.path.join(staged, _KMV_MARKER))
    _swap_in(table_path, staged)


def compact_kmv_epochs(
    spark,
    table_path: str,
    *,
    group_cols: Sequence[str],
    k: int = 64,
    checkpoint_path: str | None = None,
) -> None:
    """Fold committed epochs into one (epoch=0). File listing and
    read-side merge cost grow with epoch count on a long-running
    stream; the merge is associative so compaction never changes any
    estimate. Pass the stream's ``checkpoint_path`` so an uncommitted
    (replayable) trailing epoch is left in place — see :func:`_compact`
    (KMV's hash-dedup merge is double-count-immune anyway, but the
    layout contract stays uniform with the CMS/report tables)."""
    groups = list(group_cols)
    _compact(
        spark,
        table_path,
        lambda df: sketches.kmv_merge(df, group_cols=groups, k=k),
        checkpoint_path=checkpoint_path,
    )


def compact_cms_epochs(
    spark,
    table_path: str,
    *,
    group_cols: Sequence[str],
    checkpoint_path: str | None = None,
) -> None:
    """CMS twin of :func:`compact_kmv_epochs`: sum the epoch grids.
    CMS counts are NOT dedup-protected, so the committed-horizon guard
    matters here — always pass ``checkpoint_path`` unless the stream
    stopped cleanly."""
    groups = list(group_cols)
    _compact(
        spark,
        table_path,
        lambda df: sketches.cms_merge(df, group_cols=groups),
        checkpoint_path=checkpoint_path,
    )


def cms_sketch_sink(
    table_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink for count-min grids: each epoch lands its
    batch's (group, row, bucket, c) counters; CMS is linear, so the
    union's grid is the SUM of epoch grids at read time."""
    groups = list(group_cols)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        grid = sketches.cms_counters(
            batch, group_cols=groups, value_col=value_col,
            depth=depth, width=width,
        ).withColumn("epoch", F.lit(epoch_id))
        (
            grid.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(table_path)
        )

    return _sink


def start_cms_sketch_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
    depth: int = 4,
    width: int = 256,
    available_now: bool = False,
    trigger_secs: int = 10,
):
    writer = stream.writeStream.foreachBatch(
        cms_sketch_sink(
            table_path, group_cols=group_cols, value_col=value_col,
            depth=depth, width=width,
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def cms_stream_estimate(
    spark,
    table_path: str,
    probes: DataFrame,
    *,
    group_cols: Sequence[str],
    probe_col: str = "term",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Frequency estimates over everything ingested: sum the epoch
    grids (cms_merge), then the standard min-over-rows point estimate."""
    groups = list(group_cols)
    grids = spark.read.parquet(table_path).drop("epoch")
    merged = sketches.cms_merge(grids, group_cols=groups)
    return sketches.cms_estimate(
        merged, probes, group_cols=groups, probe_col=probe_col,
        depth=depth, width=width,
    )


def hll_sketch_sink(
    table_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink for HLL registers: each epoch lands its
    batch's (group, reg, r) rows (<= 64 per group). HLL is a
    MAX-sketch — like KMV it is double-count-immune: even a replayed
    epoch folded twice could not move any register above its true max,
    so the committed-horizon guard is belt-and-braces here."""
    groups = list(group_cols)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        regs = sketches.hll_registers(
            batch, group_cols=groups, value_col=value_col
        ).withColumn("epoch", F.lit(epoch_id))
        (
            regs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(table_path)
        )

    return _sink


def start_hll_sketch_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
    available_now: bool = False,
    trigger_secs: int = 10,
):
    writer = stream.writeStream.foreachBatch(
        hll_sketch_sink(table_path, group_cols=group_cols, value_col=value_col)
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def hll_stream_estimate(
    spark,
    table_path: str,
    *,
    group_cols: Sequence[str],
) -> DataFrame:
    """Current distinct estimates: cell-wise max over every epoch's
    registers, then the standard estimator. Read cost is (groups x 64 x
    epochs) rows — never the raw stream."""
    groups = list(group_cols)
    regs = spark.read.parquet(table_path).drop("epoch")
    return sketches.hll_estimate(
        sketches.hll_merge(regs, group_cols=groups), group_cols=groups
    )


def compact_hll_epochs(
    spark,
    table_path: str,
    *,
    group_cols: Sequence[str],
    checkpoint_path: str | None = None,
) -> None:
    """Fold committed epochs' registers into epoch=0 by cell-wise max —
    associative and double-count-immune (max is idempotent), so this is
    purely a file-count/read-cost optimization."""
    groups = list(group_cols)
    _compact(
        spark,
        table_path,
        lambda df: sketches.hll_merge(df, group_cols=groups),
        checkpoint_path=checkpoint_path,
    )


def hist_sketch_sink(
    table_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink for histogram grids: each epoch lands its
    batch's (group, bin, c) cells. The histogram is LINEAR (like CMS):
    the union's grid is the cell-wise SUM of epoch grids — which also
    means counts are NOT replay-immune, so compaction must respect the
    committed horizon (same contract as the CMS table)."""
    groups = list(group_cols)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        grid = sketches.histogram_sketch(
            batch, group_cols=groups, value_col=value_col,
            lo=lo, hi=hi, bins=bins,
        ).withColumn("epoch", F.lit(epoch_id))
        (
            grid.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(table_path)
        )

    return _sink


def start_hist_sketch_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    *,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
    available_now: bool = False,
    trigger_secs: int = 10,
):
    writer = stream.writeStream.foreachBatch(
        hist_sketch_sink(
            table_path, group_cols=group_cols, value_col=value_col,
            lo=lo, hi=hi, bins=bins,
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def hist_stream_quantiles(
    spark,
    table_path: str,
    *,
    group_cols: Sequence[str],
    lo: float,
    hi: float,
    bins: int = 256,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Current approximate quantiles over everything ingested: sum the
    epoch grids cell-wise, then interpolate."""
    groups = list(group_cols)
    grids = spark.read.parquet(table_path).drop("epoch")
    merged = (
        grids.groupBy(*groups, "bin")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    return sketches.histogram_quantiles(
        merged, group_cols=groups, lo=lo, hi=hi, bins=bins, qs=qs
    )


def compact_hist_epochs(
    spark,
    table_path: str,
    *,
    group_cols: Sequence[str],
    checkpoint_path: str | None = None,
) -> None:
    """Histogram twin of :func:`compact_cms_epochs`: sum the epoch
    grids. Counts are linear, not idempotent — always pass
    ``checkpoint_path`` unless the stream stopped cleanly."""
    groups = list(group_cols)
    _compact(
        spark,
        table_path,
        lambda df: df.groupBy(*groups, "bin").agg(
            F.sum("c").cast("bigint").alias("c")
        ),
        checkpoint_path=checkpoint_path,
    )
