"""Streaming maintenance of the persisted IVF ANN index: embeddings
arrive continuously (a corpus under construction), the index stays
probe-ready without ever rebuilding.

Why this is cheap here and hard elsewhere: the coarse quantizer is
FIXED (seed-derived, `similarity.fixed_centroids`) — cell assignment is
a pure function of the vector, so new data never invalidates old
assignments and "index maintenance" degenerates to an append. A fitted
(k-means) quantizer would drift with the data distribution and force
periodic re-clustering + full rewrites; the fixed quantizer trades a
little cell balance for O(batch) incremental cost, which is the right
trade for an always-on ingest at corpus scale.

Layout: ``path/data/epoch=<id>/cell=<c>/part-*.parquet``. ``cell`` is a
partition column at every epoch, so probes prune to the nprobe cell
directories across ALL epochs at file-listing time — the partition
pruning the batch index has, preserved under streaming growth.

Exactly-once: the writer uses dynamic partition overwrite on the epoch
partition — a replayed micro-batch rewrites exactly its own
``epoch=<id>`` subtree (same rows, deterministic assignment) instead of
appending duplicates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators import similarity


def ivf_index_sink(
    index_path: str,
    *,
    dim: int,
    nlist: int = 16,
    seed: int = 777,
    vec_col: str = "embedding",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink that appends each embedding micro-batch to
    the cell-partitioned IVF index, idempotently per epoch."""
    cents = similarity.fixed_centroids(dim, nlist=nlist, seed=seed)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        assigned = similarity.ivf_assign_fixed(
            batch, cents, vec_col=vec_col
        ).withColumn("epoch", F.lit(epoch_id))
        (
            assigned.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", "cell")
            .parquet(f"{index_path}/data")
        )

    return _sink


def start_ivf_index_stream(
    emb_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    *,
    dim: int,
    nlist: int = 16,
    seed: int = 777,
    vec_col: str = "embedding",
    available_now: bool = False,
    trigger_secs: int = 10,
):
    """Run the index maintainer over a streaming DataFrame of
    embeddings. Restart-safe: offsets ride the checkpoint and replayed
    epochs overwrite their own partition subtree."""
    writer = emb_stream.writeStream.foreachBatch(
        ivf_index_sink(
            index_path, dim=dim, nlist=nlist, seed=seed, vec_col=vec_col
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


def compact_ivf_epochs(
    spark, index_path: str, *, checkpoint_path: str | None = None
) -> None:
    """Fold committed epochs into one (epoch=0): a long-running
    maintainer accumulates one directory tree per micro-batch, and
    file-listing cost grows with epoch count even though probes prune
    cells. Assignment is content-determined, so compaction is a pure
    re-layout — probes return identical results. Pass the stream's
    ``checkpoint_path`` so an uncommitted trailing epoch is NOT folded
    (its replay would land the same vectors a second time beside the
    folded copy). SINGLE-WRITER op: run while the maintainer stream is
    stopped."""
    import os
    import shutil

    from takuan_zoo.streaming.sketch_stream import (
        _swap_in,
        resolve_compaction_horizon,
    )

    data = f"{index_path}/data"
    df = spark.read.parquet(data)
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
    merged = foldable.drop("epoch").withColumn("epoch", F.lit(0))
    staged = data + ".compacting"
    shutil.rmtree(staged, ignore_errors=True)
    merged.write.mode("overwrite").partitionBy("epoch", "cell").parquet(staged)
    for eid in keep_ids:
        shutil.copytree(
            os.path.join(data, f"epoch={eid}"),
            os.path.join(staged, f"epoch={eid}"),
        )
    _swap_in(data, staged)


def ivf_stream_probe(
    spark,
    index_path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 777,
) -> DataFrame:
    """Probe the streamed index: identical pruning semantics to the
    batch ``similarity.ivf_probe`` — the ``cell isin`` filter prunes
    cell directories under every epoch before any file opens."""
    cents = similarity.fixed_centroids(len(query_vec), nlist=nlist, seed=seed)
    probes = similarity.probe_cells(query_vec, cents, nprobe=nprobe)
    cand = (
        spark.read.parquet(f"{index_path}/data")
        .where(F.col("cell").isin(probes))
        .drop("epoch")
    )
    return similarity.cosine_topk(
        cand, query_vec, k=k, vec_col=vec_col, id_col=id_col
    )
