"""Continuously deduplicated corpus: the streaming form of incremental
dedup (SURVEY.md §2.2 north-star; batch form operators/dedup.py:
dedup_incremental).

Production shape for continuously-arriving training data: each
micro-batch is (a) self-deduped (min-id survivor per content
fingerprint), (b) anti-joined against the corpus fingerprint table, and
the novel remainder is appended to the corpus with its fingerprint
delta appended to the fp table. The fp table carries 32-byte md5 keys —
at 100 TB of corpus it is the only state, it is bucketable by fp at
rest, and the anti-join is a sort-merge that co-locates when both sides
are bucketed.

Delivery semantics: REPLAY-STABLE idempotence. Both tables are laid out
as ``epoch=N`` subdirectories written with per-epoch OVERWRITE, and the
anti-join reads the fp table EXCLUDING the replaying epoch's own
directory — so a replayed epoch recomputes exactly the novel set it
computed the first time (whatever subset of its two writes landed
before the crash) and overwrites both directories to the same state.
A plain two-append protocol has an unfixable crash window between the
appends: fp-first loses documents on replay, corpus-first duplicates
them. No epoch registry needed (contrast sinks/db.py, which needs one
because SQL appends are not content-keyed).

LAYOUT NOTE (round-2 break): before the epoch protocol both tables
were flat append directories. The two layouts cannot coexist under one
root — Spark's partition discovery rejects a mix of bare part files
and ``epoch=N`` dirs — so point the sink at a fresh root (or one-shot
rewrite legacy parts into an ``epoch=-1`` dir). Corpus consumers that
predate the break should read through :func:`read_corpus`, which hides
the ``epoch`` partition column and returns the original schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from takuan_zoo.operators.dedup import dedup_incremental

FP_SCHEMA = "fp string"


def _read_fps(
    spark: SparkSession, fp_path: str, *, exclude_epoch: int | None = None
) -> DataFrame:
    """The fingerprint table, minus ``exclude_epoch``'s own delta — the
    exclusion is what makes a replayed epoch's computation identical to
    its first run (its landed delta must not mask its own content)."""
    try:
        fps = spark.read.parquet(fp_path)
    except Exception as exc:  # first batch: no fp table yet
        if "conflicting directory structure" in str(exc).lower():
            raise ValueError(
                f"{fp_path} mixes legacy flat part files with epoch=N "
                "dirs; migrate legacy parts into an epoch=-1 subdir or "
                "start a fresh root (see module docstring)"
            ) from exc
        return spark.createDataFrame([], FP_SCHEMA)
    if exclude_epoch is not None and "epoch" in fps.columns:
        fps = fps.where(F.col("epoch") != exclude_epoch)
    return fps.select("fp")


def read_corpus(spark: SparkSession, corpus_path: str) -> DataFrame:
    """The deduplicated corpus in its pre-epoch schema: the ``epoch``
    bookkeeping partition column is an implementation detail of the
    replay protocol, not part of the corpus."""
    df = spark.read.parquet(corpus_path)
    return df.drop("epoch") if "epoch" in df.columns else df


def dedup_batch_sink(
    spark: SparkSession,
    *,
    corpus_path: str,
    fp_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """``foreachBatch`` sink implementing the incremental-dedup protocol.
    Exposed separately so batch backfills can reuse it."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        from takuan_zoo.operators.dedup import fingerprint

        seen = _read_fps(spark, fp_path, exclude_epoch=int(epoch_id))
        novel, _ = dedup_incremental(
            batch, seen, text_col=text_col, id_col=id_col
        )
        # Persist novel, then derive the fp delta FROM the persisted
        # frame: the tuple's own new_fps is a sibling plan that would
        # miss the cache (plan-matched) and re-run the dedup upstream.
        novel = novel.persist()
        new_fps = novel.select(fingerprint(F.col(text_col)).alias("fp"))
        try:
            # per-epoch OVERWRITE into epoch-keyed directories: replays
            # rewrite the same dirs to the same content instead of
            # appending duplicates (or, fp-first, losing documents)
            novel.write.mode("overwrite").parquet(
                f"{corpus_path}/epoch={int(epoch_id)}"
            )
            new_fps.write.mode("overwrite").parquet(
                f"{fp_path}/epoch={int(epoch_id)}"
            )
        finally:
            novel.unpersist()

    return _sink


def start_dedup_stream(
    docs_stream: DataFrame,
    *,
    corpus_path: str,
    fp_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    trigger_secs: int = 30,
) -> StreamingQuery:
    """Run the continuously-deduplicating ingest over a docs stream."""
    spark = docs_stream.sparkSession
    writer = docs_stream.writeStream.foreachBatch(
        dedup_batch_sink(
            spark,
            corpus_path=corpus_path,
            fp_path=fp_path,
            text_col=text_col,
            id_col=id_col,
        )
    ).option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()
