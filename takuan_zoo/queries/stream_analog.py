"""Driver-checkable batch analogs of the streaming maintainers.

The streaming family (``streaming/report_stream.py``,
``streaming/sketch_stream.py``) maintains epoch-partitioned partial
state (per-batch report partials, per-batch KMV sketches) that readers
fold into the current answer. Its correctness property is the FOLD
ALGEBRA: partial-per-epoch then merge must equal computing over all
events at once. pytest proves it with live streams; these queries prove
the same algebra through the driver's DuckDB oracle gate by running the
real sink + reader code over a deterministic epoch split of the batch
events table:

1. split events into 4 epochs (``pmod(event_id, 4)`` — deterministic,
   partitioning-invariant);
2. feed each epoch through the ACTUAL ``foreachBatch`` sink (same
   function the stream driver calls), landing `epoch=<id>` partitions
   under a scratch table;
3. return the ACTUAL reader fold (``merged_report`` /
   ``kmv_stream_estimate``) over the maintained table.

The oracle computes the answer directly over all events — a green row
means sink + table layout + reader fold compose to the exact batch
semantics. The scratch table is rebuilt per call (keyed by sf_dir so
sf0.01 correctness runs and sf0.1 bench runs never cross-read) and the
write cost is inside the benched window — honest maintainer cost.

Ref: core/reporter.go:102-168 (the report this maintains incrementally);
the reference recomputes from scratch per flush tick, the scale path
folds O(epochs x addresses) partials instead of re-scanning history.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import sketches
from takuan_zoo.queries import query
from takuan_zoo.queries.northstar import _IVF_TOPK_SQL

_N_EPOCHS = 4
_KMV_K = 32


def _scratch(sf_dir: str, kind: str) -> str:
    """Fresh scratch table path, unique per (sf_dir, kind) so runs at
    different scale factors never read each other's epochs."""
    from takuan_zoo.scratch import scratch_path

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = scratch_path(f"takuan_stream_fold_{kind}_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def _epoch_batches(ev: DataFrame):
    """The deterministic 4-way epoch split of the events table."""
    for e in range(_N_EPOCHS):
        yield e, ev.where(F.pmod(F.col("event_id"), F.lit(_N_EPOCHS)) == e)


def _await_or_die(q, timeout_secs: int) -> None:
    """awaitTermination with the timeout treated as a FAILURE: an
    availableNow stream that has not terminated means the sink is
    partial, and reading it would return silently truncated results —
    a slow run must surface as an error, never a wrong answer."""
    if not q.awaitTermination(timeout_secs):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{timeout_secs}s; aborting instead of reading a partial sink"
        )


def _write_epoch_file(
    base: str, src: str, df: DataFrame, name: str, mtime: float
) -> None:
    """One epoch = one parquet FILE (the unit ``maxFilesPerTrigger=1``
    batches by), mtime-stamped so the file source replays arrival order
    — the shared arrival protocol of the real-engine streaming queries
    (q_stream_window_fold / q_stream_session_window / q_stream_late_drop)."""
    import glob as _glob

    tmp = f"{base}/_tmp_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    dest = os.path.join(src, f"{name}.parquet")
    shutil.move(_glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dest)
    shutil.rmtree(tmp)
    os.utime(dest, (mtime, mtime))


def _epoch_index(time_col: str, lo, span_us: int, n_epochs: int):
    """Integer time-quartile index of an event: which of the
    ``n_epochs`` equal spans of [lo, hi] its timestamp falls in, the
    last span open-ended (``least`` absorbs the <= 2 us rounding of the
    Python timedelta division). Pure integer div — exactly the
    boundaries the per-epoch ``ts >= lit(elo)`` conditions used."""
    import datetime

    lo_us = (lo - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
        microseconds=1
    )
    return F.least(
        F.lit(n_epochs - 1),
        F.expr(f"(unix_micros({time_col}) - {lo_us}L) div {span_us}L"),
    ).cast("int")


def _write_epoch_files_one_job(
    base: str,
    src: str,
    ev: DataFrame,
    *,
    time_col: str,
    lo,
    hi,
    n_epochs: int,
    t0: float,
) -> int:
    """All ``n_epochs`` time-quartile epoch files in ONE Spark job.

    The per-epoch ``where + coalesce(1) + write`` loop submitted one
    job per epoch; with the sentinel writes that made ~7 driver-side
    job submissions before the stream even started, and the streaming
    bench tail turned out to be jitter ACROSS those submissions, not a
    slow engine phase (tools/stream_tail_probe.py: slow runs inflate
    every durationMs phase AND the outside-trigger time uniformly).
    Here each row is labeled with its epoch, hash-repartitioned on the
    label (every epoch's rows land in exactly one task, so each
    partition directory holds exactly one file), written once, and the
    part files are moved to their mtime-stamped single-file names.
    Returns span_us so callers can reuse the exact epoch boundaries."""
    import datetime
    import glob as _glob

    span_us = max(
        1,
        ((hi - lo) / n_epochs) // datetime.timedelta(microseconds=1),
    )
    tmp = f"{base}/_epochs"
    (
        ev.withColumn(
            "_ep", _epoch_index(time_col, lo, span_us, n_epochs)
        )
        .repartition(n_epochs, "_ep")
        .write.partitionBy("_ep")
        .mode("overwrite")
        .parquet(tmp)
    )
    for e in range(n_epochs):
        parts = _glob.glob(os.path.join(tmp, f"_ep={e}", "part-*.parquet"))
        if not parts:
            # an empty epoch writes no directory; an absent file is the
            # correct arrival-protocol representation (an empty batch
            # would not advance the watermark either)
            continue
        assert len(parts) == 1, f"epoch {e}: {len(parts)} files"
        dest = os.path.join(src, f"e{e}.parquet")
        shutil.move(parts[0], dest)
        os.utime(dest, (t0 + 10 * e, t0 + 10 * e))
    shutil.rmtree(tmp)
    return span_us


def _write_sentinel_files(
    src: str,
    hi,
    t0: float,
    key_name: str,
    key_value,
    key_type: str,
    *,
    extra: tuple = (),
    days: tuple = (10, 20),
) -> None:
    """The two far-future watermark-flush sentinels, written with
    pyarrow directly — sentinel frames are 1 row, and even the
    range+lit Spark write is a whole job submission per sentinel (the
    jitter surface the one-job epoch write exists to shrink). The
    arrow schema mirrors what Spark's parquet writer produces for a
    (timestamp, key, *extra) frame in the UTC-pinned session, so the
    stream's schema enforcement sees identical files. ``extra`` is a
    tuple of (name, value, type) columns appended AFTER the key, in
    order — the file columns must match the stream schema exactly.
    ``days`` places the two sentinels at ``hi + days[i]``: callers
    whose watermark delay is not small against the corpus span must
    ride the delay here (sentinel-1 at delay + margin), so the sweep
    fires in sentinel-2's FILE batch — per the protocol — rather than
    depending on the trailing no-data micro-batch."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_types = {"string": pa.string(), "bigint": pa.int64()}
    for i, days_i in enumerate(days):
        ts = (hi + datetime.timedelta(days=days_i)).replace(
            tzinfo=datetime.timezone.utc
        )
        cols = {
            "ts": pa.array([ts], type=pa.timestamp("us", tz="UTC")),
            key_name: pa.array([key_value], type=arrow_types[key_type]),
        }
        for name, value, typ in extra:
            cols[name] = pa.array([value], type=arrow_types[typ])
        dest = os.path.join(src, f"s{i}.parquet")
        pq.write_table(pa.table(cols), dest)
        mt = t0 + 100 + 10 * i
        os.utime(dest, (mt, mt))


@query(
    "q_stream_report_fold",
    """
    WITH inner_counts AS (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY 1, 2
    )
    SELECT user_id AS address,
           CAST(NULL AS VARCHAR) AS country_code,
           CAST(NULL AS VARCHAR) AS country_name,
           CAST(SUM(cnt) AS BIGINT) AS total_events,
           string_agg('ev/' || event_type || ':' || CAST(cnt AS VARCHAR),
                      '|' ORDER BY 'ev/' || event_type || ':'
                                   || CAST(cnt AS VARCHAR)) AS counters
    FROM inner_counts
    GROUP BY user_id
    ORDER BY total_events DESC, address
    """,
    "Streaming report maintainer, driver-checked: 4 deterministic "
    "epochs through the REAL report_sink (per-epoch partials, dynamic "
    "partition overwrite) then the REAL merged_report fold — green "
    "proves partial-then-merge equals the all-at-once address report "
    "(the linearity the incremental view depends on at 100 TB).",
)
def q_stream_report_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.streaming.report_stream import merged_report, report_sink

    table = _scratch(sf_dir, "report")
    ev = load_table(spark, sf_dir, "events")
    sink = report_sink(table)
    for e, batch in _epoch_batches(ev):
        sink(
            batch.select(
                F.col("user_id").alias("address"),
                F.lit("ev").alias("sensor"),
                F.col("event_type").alias("rule"),
                F.lit(None).cast("string").alias("country_code"),
                F.lit(None).cast("string").alias("country_name"),
            ),
            e,
        )
    return merged_report(spark, table)


@query(
    "q_stream_sketch_fold",
    sketches.kmv_oracle_sql(
        source_expr="events",
        group_col="event_type",
        value_col="CAST(user_id AS VARCHAR)",
        k=_KMV_K,
    )
    + "\nORDER BY event_type",
    "Streaming KMV sketch maintainer, driver-checked: 4 epochs through "
    "the REAL kmv_sketch_sink (k=32 sketches per epoch partition, k "
    "stamped in the table marker) then the REAL kmv_stream_estimate "
    "fold — green proves the epoch-merged k-minimum set equals the "
    "global sketch (the associativity that lets 100 TB of stream "
    "history reduce to groups x epochs x k hashes).",
)
def q_stream_sketch_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.sketch_stream import (
        kmv_sketch_sink,
        kmv_stream_estimate,
    )

    table = _scratch(sf_dir, "kmv")
    ev = load_table(spark, sf_dir, "events")
    sink = kmv_sketch_sink(
        table, group_cols=["event_type"], value_col="uid", k=_KMV_K
    )
    for e, batch in _epoch_batches(ev):
        sink(
            batch.select(
                "event_type", F.col("user_id").cast("string").alias("uid")
            ),
            e,
        )
    return kmv_stream_estimate(
        spark, table, group_cols=["event_type"], k=_KMV_K
    ).orderBy("event_type")


@query(
    "q_stream_dedup_fold",
    """
    WITH f AS (
        SELECT doc_id, lang, source, n_chars,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fp,
               doc_id % 4 AS ep
        FROM documents
    ),
    w AS (
        SELECT doc_id, lang, source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY ep, doc_id) AS rn
        FROM f
    )
    SELECT doc_id, lang, source, n_chars FROM w WHERE rn = 1
    ORDER BY doc_id
    """,
    "Streaming dedup maintainer, driver-checked: 4 deterministic "
    "epochs of the documents table through the REAL dedup_batch_sink "
    "(self-dedup, anti-join vs the fingerprint table, replay-stable "
    "epoch=N overwrite layout) then the REAL read_corpus fold — green "
    "proves the continuously-deduplicated corpus equals the batch "
    "rule 'first epoch containing a fingerprint wins, min-id inside "
    "it' (the order-dependence a streaming dedup MUST pin down, "
    "since an exact-dedup of all data at once would pick a different "
    "survivor).",
)
def q_stream_dedup_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.dedup_stream import dedup_batch_sink, read_corpus

    corpus = _scratch(sf_dir, "dedup_corpus")
    fps = _scratch(sf_dir, "dedup_fps")
    docs = load_table(spark, sf_dir, "documents")
    sink = dedup_batch_sink(spark, corpus_path=corpus, fp_path=fps)
    for e in range(_N_EPOCHS):
        sink(
            docs.where(F.pmod(F.col("doc_id"), F.lit(_N_EPOCHS)) == e), e
        )
    return (
        read_corpus(spark, corpus)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "q_stream_ann_fold",
    # the batch IVF probe's oracle verbatim: a green row proves the
    # epoch-partitioned streamed index folds to the batch answer
    _IVF_TOPK_SQL,
    "Streaming ANN index maintainer, driver-checked: 4 epochs of "
    "embeddings through the REAL ivf_index_sink (fixed deterministic "
    "quantizer, dynamic epoch-partition overwrite, cell partition "
    "column under every epoch) then the REAL ivf_stream_probe fold — "
    "green proves the continuously-maintained epoch=N/cell=C layout "
    "answers identically to the batch IVF probe (the append-only "
    "index-maintenance property the fixed quantizer buys at 100 TB: "
    "new data never invalidates old assignments).",
)
def q_stream_ann_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.ann_stream import ivf_index_sink, ivf_stream_probe

    table = _scratch(sf_dir, "ivf")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0)
        .select("embedding")
        .head()[0]
    ]
    corpus = emb.where(F.col("vec_id") != 0)
    sink = ivf_index_sink(table, dim=len(qvec), nlist=16, seed=777)
    for e in range(_N_EPOCHS):
        sink(
            corpus.where(F.pmod(F.col("vec_id"), F.lit(_N_EPOCHS)) == e),
            e,
        )
    return ivf_stream_probe(
        spark, table, qvec, k=10, nlist=16, nprobe=4, seed=777
    )


_CMS_FOLD_TERMS = ["1", "7", "13", "42", "999", "424242"]


@query(
    "q_stream_cms_fold",
    f"""
    WITH u AS (
        SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events
    ),
    cnt AS (
        SELECT event_type, uid, COUNT(*) AS n FROM u GROUP BY 1, 2
    ),
    plane AS (
        SELECT event_type, uid, n, r.j AS row
        FROM cnt CROSS JOIN UNNEST(generate_series(0, 3)) AS r(j)
    ),
    counters AS (
        SELECT event_type, row,
               CAST(CAST(concat('0x', substr(md5(uid), 1 + row * 8, 8)) AS BIGINT) % 256 AS INT) AS bucket,
               CAST(SUM(n) AS BIGINT) AS c
        FROM plane GROUP BY 1, 2, 3
    ),
    probes AS (
        SELECT t.term, r.j AS row,
               CAST(CAST(concat('0x', substr(md5(t.term), 1 + r.j * 8, 8)) AS BIGINT) % 256 AS INT) AS bucket
        FROM (VALUES {", ".join(f"('{t}')" for t in _CMS_FOLD_TERMS)})
             AS t(term)
        CROSS JOIN UNNEST(generate_series(0, 3)) AS r(j)
    ),
    grid AS (
        SELECT g.event_type, p.term, p.row, p.bucket
        FROM (SELECT DISTINCT event_type FROM counters) g
        CROSS JOIN probes p
    )
    SELECT grid.event_type, grid.term,
           CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_count
    FROM grid LEFT JOIN counters c
      ON c.event_type = grid.event_type AND c.row = grid.row
     AND c.bucket = grid.bucket
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "Streaming CMS maintainer, driver-checked: 4 epochs through the "
    "REAL cms_sketch_sink (per-epoch lane-hashed counter grids) then "
    "the REAL cms_stream_estimate fold (sum the linear grids, then "
    "min-over-rows) — green proves epoch-partial-then-merge equals "
    "the all-at-once sketch, the linearity that lets 100 TB of stream "
    "history reduce to epochs x depth x width counters per group.",
)
def q_stream_cms_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.sketch_stream import (
        cms_sketch_sink,
        cms_stream_estimate,
    )

    table = _scratch(sf_dir, "cms")
    ev = load_table(spark, sf_dir, "events")
    sink = cms_sketch_sink(table, group_cols=["event_type"], value_col="uid")
    for e, batch in _epoch_batches(ev):
        sink(
            batch.select(
                "event_type", F.col("user_id").cast("string").alias("uid")
            ),
            e,
        )
    probes = spark.createDataFrame(
        [(t,) for t in _CMS_FOLD_TERMS], "term string"
    )
    return cms_stream_estimate(
        spark, table, probes, group_cols=["event_type"]
    ).orderBy("event_type", "term")


@query(
    "q_stream_hll_fold",
    sketches.hll_oracle_sql(
        source_expr="(SELECT event_type, CAST(user_id AS VARCHAR) AS uid "
                    "FROM events)",
        group_col="event_type",
        value_col="uid",
    )
    + "\nORDER BY event_type",
    "Streaming HLL maintainer, driver-checked: 4 epochs through the "
    "REAL hll_sketch_sink (<= 64 register rows per group per epoch) "
    "then the REAL hll_stream_estimate fold (cell-wise max, then the "
    "estimator) — green proves epoch-partial-then-merge equals the "
    "all-at-once sketch; HLL's max-merge is double-count-immune, the "
    "property that makes replayed epochs harmless at stream scale.",
)
def q_stream_hll_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.sketch_stream import (
        hll_sketch_sink,
        hll_stream_estimate,
    )

    table = _scratch(sf_dir, "hll")
    ev = load_table(spark, sf_dir, "events")
    sink = hll_sketch_sink(table, group_cols=["event_type"], value_col="uid")
    for e, batch in _epoch_batches(ev):
        sink(
            batch.select(
                "event_type", F.col("user_id").cast("string").alias("uid")
            ),
            e,
        )
    return hll_stream_estimate(
        spark, table, group_cols=["event_type"]
    ).orderBy("event_type")


@query(
    "q_watermark_audit",
    """
    WITH e AS (
        SELECT event_id, ts, CAST(event_id % 4 AS INT) AS ep FROM events
    ),
    m AS (SELECT ep, MAX(ts) AS mx FROM e GROUP BY ep),
    wm AS (
        SELECT ep,
               MAX(mx) OVER (ORDER BY ep
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS prev_max
        FROM m
    ),
    c AS (
        SELECT e.ep,
               CASE WHEN wm.prev_max IS NULL THEN 'ontime'
                    WHEN e.ts < wm.prev_max - INTERVAL 10 MINUTE
                        THEN 'dropped'
                    WHEN e.ts < wm.prev_max THEN 'late'
                    ELSE 'ontime' END AS status
        FROM e JOIN wm ON e.ep = wm.ep
    )
    SELECT ep, status, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM c GROUP BY ep, status
    ORDER BY ep, status
    """,
    "Watermark late-data audit over the deterministic 4-epoch split: "
    "the watermark before epoch e is max event time of earlier epochs "
    "minus the 10-minute delay (Spark's batch-boundary semantics); "
    "each event classifies ontime / late-but-accepted / dropped and "
    "the audit reports counts per (epoch, status) — the calibration "
    "report that picks a delay before turning on "
    "dropDuplicatesWithinWatermark or windowed-agg state eviction. "
    "Epoch maxima are a 4-row frame broadcast back onto the events.",
)
def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", F.pmod(F.col("event_id"), F.lit(4)).cast("int").alias("ep")
    )
    m = ev.groupBy("ep").agg(F.max("ts").alias("mx"))
    wm = m.select(
        "ep",
        F.max("mx")
        .over(
            Window.orderBy("ep").rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("prev_max"),
    )
    c = ev.join(F.broadcast(wm), "ep").select(
        "ep",
        F.when(F.col("prev_max").isNull(), F.lit("ontime"))
        .when(
            F.col("ts") < F.expr("prev_max - INTERVAL 10 MINUTES"),
            F.lit("dropped"),
        )
        .when(F.col("ts") < F.col("prev_max"), F.lit("late"))
        .otherwise(F.lit("ontime"))
        .alias("status"),
    )
    return (
        c.groupBy("ep", "status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy("ep", "status")
    )


_HF_LO, _HF_HI, _HF_BINS = 0.0, 600_000.0, 256
_HF_W = (_HF_HI - _HF_LO) / _HF_BINS
_HF_QS = (0.5, 0.9, 0.99)


@query(
    "q_stream_hist_fold",
    f"""
    WITH hist AS (
        SELECT o_orderpriority,
               CAST(least(greatest(floor((o_totalprice - {_HF_LO!r})
                                         / {_HF_W!r}), 0),
                          {_HF_BINS - 1}) AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderpriority, bin, c,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority
                                 ORDER BY bin) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority
                                 ORDER BY bin) - c AS BIGINT) AS cum0,
               CAST(SUM(c) OVER (PARTITION BY o_orderpriority)
                    AS BIGINT) AS total
        FROM hist
    ),
    probes AS (SELECT CAST(unnest([{", ".join(repr(q) for q in _HF_QS)}])
                           AS DOUBLE) AS q)
    SELECT o_orderpriority, q,
           floor(({_HF_LO!r} + bin * {_HF_W!r}
                  + {_HF_W!r} * (q * total - cum0) / c) * 10000.0 + 0.5)
               / 10000.0 AS est
    FROM cum, probes
    WHERE q * total > cum0 AND q * total <= cum
    ORDER BY o_orderpriority, q
    """,
    "Streaming histogram-quantile maintainer, driver-checked: 4 order "
    "epochs through the REAL hist_sketch_sink (per-epoch 256-bin "
    "grids) then the REAL hist_stream_quantiles fold (cell-wise sum, "
    "in-bin interpolation) — the oracle computes quantiles over ALL "
    "orders at once, so green proves the linear-grid fold is exact. "
    "Completes driver coverage of all four streaming sketch "
    "maintainers (KMV, CMS, HLL, histogram).",
)
def q_stream_hist_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.sketch_stream import (
        hist_sketch_sink,
        hist_stream_quantiles,
    )

    table = _scratch(sf_dir, "hist")
    orders = load_table(spark, sf_dir, "orders")
    sink = hist_sketch_sink(
        table,
        group_cols=["o_orderpriority"],
        value_col="o_totalprice",
        lo=_HF_LO,
        hi=_HF_HI,
        bins=_HF_BINS,
    )
    for e in range(_N_EPOCHS):
        sink(
            orders.where(
                F.pmod(F.col("o_orderkey"), F.lit(_N_EPOCHS)) == e
            ),
            e,
        )
    return hist_stream_quantiles(
        spark,
        table,
        group_cols=["o_orderpriority"],
        lo=_HF_LO,
        hi=_HF_HI,
        bins=_HF_BINS,
        qs=_HF_QS,
    ).orderBy("o_orderpriority", "q")


@query(
    "q_stream_session_fold",
    """
    WITH seq2 AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq2
    ),
    iv AS (
        SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events
    FROM iv
    ORDER BY user_id, s_start
    """,
    "Streaming session-window maintainer, driver-checked: 4 INTERLEAVED "
    "epochs (pmod, deliberately not time-contiguous) through the REAL "
    "session_sink (per-epoch partial session intervals, dynamic "
    "partition overwrite) then the REAL merged_sessions fold — green "
    "proves the running-max interval merge reconstructs the exact "
    "global sessionization from partials of an arbitrary batch split, "
    "the state-merge algebra Structured Streaming's native "
    "session_window performs and the only windowed aggregate whose "
    "partials are not disjoint.",
)
def q_stream_session_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.session_stream import merged_sessions, session_sink

    table = _scratch(sf_dir, "sessions")
    ev = load_table(spark, sf_dir, "events")
    sink = session_sink(table)
    for e, batch in _epoch_batches(ev):
        sink(batch.select("user_id", "ts"), e)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        merged_sessions(spark, table)
        .orderBy("user_id", "s_start")
        .select(
            "user_id",
            F.date_format("s_start", fmt).alias("session_start"),
            F.date_format("s_end", fmt).alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_stream_moments_fold",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice) / COUNT(*), 4) AS mean,
           ROUND(sqrt((SUM(o_totalprice * o_totalprice)
                       - SUM(o_totalprice) * SUM(o_totalprice) / COUNT(*))
                      / NULLIF(COUNT(*) - 1, 0)), 4) AS std
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "Streaming moments maintainer, driver-checked: 4 epochs of orders "
    "through the REAL moments_sink (per-epoch power sums n/s1/s2, "
    "dynamic partition overwrite) then the REAL merged_moments fold — "
    "green proves the parallel-variance algebra: partials merge by "
    "plain addition and the power-sum identity recovers mean and "
    "sample std equal to the all-at-once computation (the oracle "
    "derives both from the same identity over raw rows; 4-decimal "
    "rounding absorbs IEEE summation-order jitter).",
)
def q_stream_moments_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.moments_stream import merged_moments, moments_sink

    table = _scratch(sf_dir, "moments")
    orders = load_table(spark, sf_dir, "orders")
    sink = moments_sink(
        table, group_cols=["o_orderpriority"], value_col="o_totalprice"
    )
    for e in range(_N_EPOCHS):
        sink(
            orders.where(
                F.pmod(F.col("o_orderkey"), F.lit(_N_EPOCHS)) == e
            ),
            e,
        )
    return merged_moments(
        spark, table, group_cols=["o_orderpriority"]
    ).orderBy("o_orderpriority")


@query(
    "q_stream_window_fold",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY 1, 3
    """,
    "Event-time windowed aggregation under the REAL Structured "
    "Streaming engine, driver-checked: events land as 4 time-ordered "
    "epoch files, spark.readStream consumes them one file per "
    "micro-batch (availableNow + maxFilesPerTrigger=1), and the "
    "actual streaming/windows.py windowed_counts plan — "
    "withWatermark('1 hour') + F.window('1 hour') — appends each "
    "hour's counts to a parquet sink exactly once, when the advancing "
    "watermark finalizes it. Two far-future sentinel files push the "
    "watermark past the last real hour so every real window flushes "
    "(their own windows are filtered by key). Green against the "
    "calendar-bucket oracle proves the watermark protocol loses "
    "nothing when batch boundaries respect event-time order — the "
    "bounded-state freshness contract a 100 TB/day stream depends on "
    "(state is watermark-horizon x keys, never history).",
)
def q_stream_window_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_windowed_counts(spark, sf_dir, "window")


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _run_windowed_counts(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    state_provider: str | None = None,
) -> DataFrame:
    """The shared real-engine windowed-counts run: q_stream_window_fold
    on the default (HDFS-backed, in-heap) state store, and
    q_stream_rocksdb_state on RocksDB — same plan, same arrival
    protocol, same oracle, so a result difference isolates the state
    BACKEND."""
    from takuan_zoo.streaming.windows import windowed_counts

    base = _scratch(sf_dir, kind)
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    # withWatermark rejects TIMESTAMP_NTZ event time; the session TZ is
    # pinned UTC (session.py), so the cast is wall-clock-preserving and
    # window boundaries stay the oracle's calendar hours
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )

    # time-quartile epochs: batch boundaries respect event-time order
    # (a pmod split would interleave times across batches and the
    # watermark would drop the tail as late — the audit here is the
    # in-order protocol, not late-data accounting, which
    # q_stream_late_drop exercises on the real engine). One Spark job
    # writes all four files; the two far-future sentinels (batch N's
    # max event time only becomes the watermark in batch N+1, so
    # sentinel-1 advances it past every real hour and sentinel-2's
    # batch performs the final flush) are pyarrow writes, no job.
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    _write_sentinel_files(src, hi, t0, "event_type", "__sentinel__", "string")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # streaming state here is (hours-in-horizon x event types) rows —
    # the state-store partition count is fixed by shuffle.partitions at
    # checkpoint creation, and 32 stores per micro-batch is pure
    # overhead for keys this narrow (measured 16.9 -> 4.5 s at sf0.1).
    # A production deployment sizes this to key cardinality, not
    # corpus size; scoped + restored so batch queries are untouched.
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    _CHANGELOG_KEY = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_provider = spark.conf.get(_PROVIDER_KEY, None)
    prev_changelog = spark.conf.get(_CHANGELOG_KEY, None)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    if state_provider is not None:
        spark.conf.set(_PROVIDER_KEY, state_provider)
        if "RocksDB" in state_provider:
            # Changelog checkpointing is the production RocksDB shape
            # (the docstring's own claim): per-batch durability is the
            # delta CHANGELOG, not a full SST snapshot upload per
            # store per commit — uploadSnapshot leaves the commit path
            # (it runs in background maintenance), cutting per-batch
            # checkpoint bytes from O(state) to O(delta). Store
            # CONTENTS and results are identical; scoped + restored
            # like the provider conf.
            spark.conf.set(_CHANGELOG_KEY, "true")
    try:
        q = (
            windowed_counts(
                stream,
                time_col="ts",
                key_cols=("event_type",),
                window="1 hour",
                watermark="1 hour",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        if state_provider is not None and "RocksDB" in state_provider:
            # non-vacuity: the provider conf must actually have taken
            # effect — RocksDB stores report rocksdb* custom metrics in
            # every progress event; their absence means the run
            # silently certified the default backend twice.
            n_rocks = sum(
                1
                for p in q.recentProgress
                for op in p.get("stateOperators", [])
                if any("rocksdb" in k.lower() for k in op.get(
                    "customMetrics", {}
                ))
            )
            if n_rocks == 0:
                raise RuntimeError(
                    "no rocksdb custom metrics in any progress event; "
                    "the RocksDB state store provider was not in effect"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if state_provider is not None:
            if prev_provider is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, prev_provider)
            if prev_changelog is None:
                spark.conf.unset(_CHANGELOG_KEY)
            else:
                spark.conf.set(_CHANGELOG_KEY, prev_changelog)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        spark.read.parquet(sink)
        .where(F.col("event_type") != "__sentinel__")
        .select(
            F.date_format("window_start", fmt).alias("window_start"),
            F.date_format("window_end", fmt).alias("window_end"),
            "event_type",
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "q_stream_rocksdb_state",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY 1, 3
    """,
    "The q_stream_window_fold protocol on the ROCKSDB state store "
    "backend — the state-backend portability row: every other "
    "real-engine run certifies semantics on the default HDFS-backed "
    "provider, which keeps all state in executor HEAP and is exactly "
    "what a 100 TB/day deployment cannot use (state OOMs the JVM once "
    "keys x horizon outgrow memory); RocksDB is the production "
    "backend — per-partition native stores spilling to local disk, "
    "bounded heap, changelog-checkpointed. Same plan, same epoch-file "
    "arrival, same calendar-bucket oracle, so a green row certifies "
    "the BACKEND swap preserves exactly-once append semantics; the "
    "query raises unless rocksdb* custom metrics appear in the "
    "progress events (the conf not taking effect would otherwise "
    "silently re-certify the default store).",
)
def q_stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_windowed_counts(
        spark, sf_dir, "rocksdb_window", state_provider=_ROCKSDB_PROVIDER
    )


# q_stream_checkpoint_restart uses SEVEN epochs and DAY windows, not
# the shared 4/hour protocol: the events corpus spans ~30 days minus
# ~46 s, so every k/4 (and k/2, k/5...) span fraction lands within
# seconds of a midnight hour boundary and the window containing the
# restart would have almost no events on one side — the straddle the
# row exists to test would be vacuous (measured: the 2/4 boundary sits
# 12 s before midnight; 0-1 events land in that sliver). 2/7 of the
# span lands mid-afternoon, mid-hour; all 5 event types straddle the
# boundary day at every shipped SF (pinned in tests/test_stateful.py).
_RESTART_EPOCHS = 7
_RESTART_AFTER = 2


@query(
    "q_stream_checkpoint_restart",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           strftime(date_trunc('day', ts) + INTERVAL 1 DAY,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    ORDER BY 1, 3
    """,
    "Checkpoint RESTART recovery under the REAL Structured Streaming "
    "engine — the stateful-lifecycle behavior no other row exercises: "
    "every real-engine row so far runs ONE query start-to-finish, so "
    "state reload from a checkpoint (the mechanism that makes a "
    "100 TB/day stream survive deploys, crashes, and rescheduling) is "
    "certified nowhere. Daily windowed counts drain 2 of 7 epoch "
    "files and STOP (availableNow); a brand-new query object then "
    "starts on the SAME checkpoint with the remaining 5 epochs + "
    "sentinels present. The query asserts from the engine's own "
    "progress events that run 2 RESUMED (its first batchId continues "
    "past run 1's last instead of restarting at 0), that run 1 "
    "flushed finalized rows (so re-emission is detectable), and that "
    "run 2 appended more. Correctness teeth: the day window "
    "containing the restart boundary is still OPEN when run 1 stops "
    "(its end is above the watermark by construction) and at every SF "
    "every event type has events on BOTH sides of the boundary "
    "(pinned in tests/test_stateful.py), so its run-1 events exist "
    "only as checkpointed state — a restart that lost state emits "
    "that window with only its run-2 count, a restart that re-read "
    "run 1's files double-counts every flushed window, and a restart "
    "that re-emitted finalized windows duplicates rows; all hash-red "
    "against the whole-corpus calendar-bucket oracle. The boundary "
    "sits at 2/7 of the span because the corpus is ~30 days minus "
    "seconds: every small-denominator fraction lands within seconds "
    "of midnight, leaving one side of the straddling window nearly "
    "empty (the 2/4 point is 12 s before a day boundary).",
)
def q_stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.windows import windowed_counts

    base = _scratch(sf_dir, "ckpt_restart")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    stage = f"{base}/stage"
    os.makedirs(src)
    os.makedirs(stage)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    # all nine files (7 time-septile epochs + 2 sentinels) are staged
    # up front; the restart boundary is WHICH of them are visible to
    # each run. shutil.move preserves mtimes, so arrival order within
    # each run stays the protocol's.
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, stage, ev, time_col="ts", lo=lo, hi=hi,
        n_epochs=_RESTART_EPOCHS, t0=t0,
    )
    _write_sentinel_files(
        stage, hi, t0, "event_type", "__sentinel__", "string"
    )
    # an empty epoch writes no file (the one-job writer's documented
    # representation) — tolerate absence so a sparse corpus degrades to
    # fewer micro-batches instead of crashing the move.
    run2_files = [
        name
        for name in (
            [f"e{k}.parquet" for k in range(_RESTART_AFTER, _RESTART_EPOCHS)]
            + ["s0.parquet", "s1.parquet"]
        )
        if os.path.exists(os.path.join(stage, name))
    ]
    for k in range(_RESTART_AFTER):
        path = os.path.join(stage, f"e{k}.parquet")
        if os.path.exists(path):
            shutil.move(path, os.path.join(src, f"e{k}.parquet"))

    def _start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            windowed_counts(
                stream,
                time_col="ts",
                key_cols=("event_type",),
                window="1 day",
                watermark="1 hour",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q1 = _start()
        _await_or_die(q1, 600)
        # the code tolerates absent (empty) epoch files, so guard the
        # degenerate corpus where run 1 saw NO batches at all — the
        # recovery assertion below would be vacuous, and a bare max()
        # over no progress events would raise an opaque ValueError.
        if not q1.recentProgress:
            raise RuntimeError(
                "run 1 produced no progress events (every pre-restart "
                "epoch was empty); the restart-recovery check would be "
                "vacuous on this corpus"
            )
        last_b1 = max(p["batchId"] for p in q1.recentProgress)
        n1 = spark.read.parquet(sink).count()
        if n1 == 0:
            raise RuntimeError(
                "run 1 flushed nothing before the restart; the recovery "
                "path would be vacuous (no finalized rows to NOT re-emit)"
            )

        # the restart boundary: the remaining epochs + sentinels become
        # visible only to the SECOND query object, which recovers
        # offsets + state from the checkpoint of the first. Offset
        # resumption is asserted mechanically below; STATE recovery is
        # detected by the oracle — the open boundary-day window's
        # run-1 events exist only in checkpointed state, so losing it
        # under-counts that window and re-reading run 1's files
        # double-counts every run-1 row; both hash-red.
        for name in run2_files:
            shutil.move(os.path.join(stage, name), os.path.join(src, name))
        q2 = _start()
        _await_or_die(q2, 600)

        if not q2.recentProgress:
            raise RuntimeError(
                "run 2 produced no progress events; the post-restart "
                "epochs + sentinels were never batched"
            )
        first_b2 = min(p["batchId"] for p in q2.recentProgress)
        if first_b2 <= last_b1:
            raise RuntimeError(
                f"restart did not resume offsets: run 2 began at batch "
                f"{first_b2}, run 1 ended at {last_b1}"
            )
        if spark.read.parquet(sink).count() <= n1:
            raise RuntimeError(
                "run 2 appended nothing; the post-restart epochs were "
                "not consumed"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        spark.read.parquet(sink)
        .where(F.col("event_type") != "__sentinel__")
        .select(
            F.date_format("window_start", fmt).alias("window_start"),
            F.date_format("window_end", fmt).alias("window_end"),
            "event_type",
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "q_stream_session_window",
    """
    WITH seq2 AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 3 HOUR
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM seq2
    ),
    iv AS (
        SELECT user_id, MIN(ts) AS s_start,
               MAX(ts) + INTERVAL 3 HOUR AS s_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(n_events AS BIGINT) AS n_events
    FROM iv
    ORDER BY user_id, s_start
    """,
    "Session windows under the REAL Structured Streaming engine — the "
    "real-engine companion to q_stream_session_fold (which certifies "
    "the interval-merge algebra via the epoch-fold analog): events "
    "land as 4 time-ordered epoch files, readStream consumes one file "
    "per micro-batch, and the actual streaming/windows.py "
    "sessionized_counts plan — withWatermark('1 hour') + "
    "F.session_window(ts, '3 hours') per user — appends each "
    "session exactly once when the advancing watermark finalizes it. "
    "Sessions spanning a batch boundary MERGE IN STATE (the stateful "
    "behavior the fold analog cannot exercise); two far-future "
    "sentinel files under a reserved user flush the tail. Green "
    "against the gaps-and-islands oracle (session_end = last event + "
    "gap, Spark's definition) proves streaming sessionization equals "
    "the global batch answer; state is open-sessions x users inside "
    "the watermark horizon, never history.",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.windows import sessionized_counts

    base = _scratch(sf_dir, "session_window")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    # cast as in q_stream_window_fold: withWatermark rejects
    # TIMESTAMP_NTZ, and the UTC-pinned session makes the cast
    # wall-clock-preserving.
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )

    # time-quartile epochs: in-order batches mean an event continuing a
    # cross-boundary session always arrives while that session is still
    # open — its last event is within gap of the boundary, so its end
    # (last + gap) is past the batch-max-minus-delay watermark for any
    # delay >= 0 — and is never late (its ts >= the previous batch max).
    # One job writes all four files; the two sentinels under a reserved
    # user id (sentinel-1 advances the watermark past every real
    # session end, sentinel-2's batch flushes them) are pyarrow writes.
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    _write_sentinel_files(src, hi, t0, "user_id", -1, "bigint")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # session state is open sessions x users (~1.5k keys at sf0.1) —
    # scope the state-store count to key cardinality, not the session
    # default, exactly as q_stream_window_fold measured (16.9 -> 4.5 s).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            sessionized_counts(
                stream,
                time_col="ts",
                key_col="user_id",
                gap="3 hours",
                watermark="1 hour",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        spark.read.parquet(sink)
        .where(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.date_format("session_start", fmt).alias("session_start"),
            F.date_format("session_end", fmt).alias("session_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q_stream_late_drop",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY 1, 3
    """,
    "Late-data DROP at the watermark boundary under the REAL "
    "Structured Streaming engine — the behavior the two other "
    "real-engine rows (window finalization, in-state session merge) "
    "leave unexercised: after the 4 in-order epoch files, a 5th file "
    "replays one event per first-quartile (hour, event_type) window; "
    "by then the watermark sits 1 hour behind the corpus maximum "
    "(~22 days ahead of every replayed window at every SF — "
    "tests/test_stateful.py pins the margin), so the engine must "
    "drop each replayed row instead of re-opening evicted window "
    "state. The replay is one-row-per-group deliberately: "
    "numRowsDroppedByWatermark counts rows reaching the STATE "
    "operator, i.e. after map-side partial aggregation, whose output "
    "grain is (group x scan partition) — a multi-row replay would "
    "make the metric depend on partition layout (measured: 844 "
    "partials from 2505 raw rows over 819 groups), while one row per "
    "group makes partial output = replay rows under ANY layout. The "
    "query asserts sum(numRowsDroppedByWatermark) == replay rows "
    "from the engine's own progress events, raising otherwise, and "
    "returns the hourly counts, which the clean-corpus oracle only "
    "matches if NO replayed row reached state: an absorbed replay "
    "inflates a count or, for finalized windows in append mode, "
    "emits a duplicate (window, key) row; both hash-red. This is the "
    "eviction half of the bounded-state contract a 100 TB/day stream "
    "depends on: state stays watermark-horizon x keys because "
    "anything older is refused, not re-opened.",
)
def q_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.windows import windowed_counts

    base = _scratch(sf_dir, "late_drop")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    # cast as in q_stream_window_fold: withWatermark rejects
    # TIMESTAMP_NTZ; the UTC-pinned session keeps calendar hours.
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    span_us = _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    # the LATE file: one replayed event per first-quartile (hour,
    # event_type) window, arriving after epoch 3 has pushed the
    # watermark to (corpus max - 1 hour). Every replayed row's window
    # end is >= 3 epoch spans behind that watermark, so the engine must
    # drop all of them; the per-group grain makes the drop metric exact
    # (see the registration docstring). The first-quartile predicate is
    # the SAME integer epoch index the file split used, so the replay
    # is exactly epoch 0's windows; n_late comes from the written
    # file's parquet footer (no extra count job).
    late = (
        ev.where(_epoch_index("ts", lo, span_us, _N_EPOCHS) == 0)
        .groupBy(
            F.date_trunc("hour", "ts").alias("_h"), "event_type"
        )
        .agg(F.min("ts").alias("ts"))
        .select("ts", "event_type")
    )
    _write_epoch_file(base, src, late, "late", t0 + 50)
    import pyarrow.parquet as _pq

    n_late = _pq.read_metadata(os.path.join(src, "late.parquet")).num_rows
    if n_late == 0:
        raise RuntimeError("empty first quartile; late-drop test vacuous")
    # sentinels as in q_stream_window_fold: sentinel-1 advances the
    # watermark past every real hour, sentinel-2's batch flushes them.
    _write_sentinel_files(src, hi, t0, "event_type", "__sentinel__", "string")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # state = (hours-in-horizon x event types) — size the state-store
    # count to key cardinality exactly as the other real-engine rows
    # (measured 16.9 -> 4.5 s on q_stream_window_fold).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            windowed_counts(
                stream,
                time_col="ts",
                key_cols=("event_type",),
                window="1 hour",
                watermark="1 hour",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        # the engine's own accounting: every replayed row must have
        # been dropped at the watermark, none absorbed into state.
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != n_late:
            raise RuntimeError(
                f"watermark drop accounting mismatch: engine dropped "
                f"{dropped} rows, replay file held {n_late}"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        spark.read.parquet(sink)
        .where(F.col("event_type") != "__sentinel__")
        .select(
            F.date_format("window_start", fmt).alias("window_start"),
            F.date_format("window_end", fmt).alias("window_end"),
            "event_type",
            F.col("cnt").cast("bigint").alias("cnt"),
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "q_stream_dedup_replay",
    """
    SELECT event_id, user_id, event_type
    FROM events
    ORDER BY event_id
    """,
    "Cross-batch exact dedup under the REAL Structured Streaming "
    "engine (dropDuplicatesWithinWatermark — the streaming tier of "
    "the dedup family, previously certified only by pytest streams): "
    "after epoch-0's file, a replay file re-sends every epoch-0 event "
    "from the last 30 minutes before epoch-0's max — inside the "
    "1-hour watermark horizon, so the engine must suppress each "
    "replay FROM KEY STATE, not drop it as late (the query asserts "
    "numRowsDroppedByWatermark == 0 across all batches from the "
    "progress events, so state suppression is the only mechanism "
    "that can explain a green row), and the replay is non-empty at "
    "any SF because epoch-0's max event always qualifies. The sink "
    "must then hold exactly one row per event_id — an unsuppressed "
    "replay duplicates a row and hash-reds against the oracle. This "
    "is the log-shipper redelivery contract at 100 TB/day "
    "(SURVEY.md O2: rotations/reconnects re-send recent lines): "
    "state is one entry per key inside the watermark horizon — "
    "arrival rate x horizon, never history — and replays landing "
    "within the horizon are absorbed exactly once.",
)
def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.windows import deduped_stream

    base = _scratch(sf_dir, "dedup_replay")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "event_type",
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    span_us = _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    # the REPLAY file, mtime-ordered between e0 and e1: every epoch-0
    # event from the last 30 minutes before epoch-0's actual max. The
    # watermark when it is processed is (max_e0 - 1 hour), so every
    # replayed row sits >= 30 minutes ABOVE the watermark — never
    # late-droppable, and its original's key state (evicted only once
    # the watermark passes the event time) is still live. Non-empty by
    # construction: the max event itself qualifies.
    in_e0 = _epoch_index("ts", lo, span_us, _N_EPOCHS) == 0
    max_e0 = ev.where(in_e0).agg(F.max("ts")).head()[0]
    replay = ev.where(
        in_e0 & (F.col("ts") > F.lit(max_e0) - F.expr("INTERVAL 30 MINUTES"))
    )
    _write_epoch_file(base, src, replay, "d0", t0 + 5)
    import pyarrow.parquet as _pq

    n_replay = _pq.read_metadata(os.path.join(src, "d0.parquet")).num_rows
    if n_replay == 0:
        raise RuntimeError("empty replay file; dedup test vacuous")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # dedup state = one entry per event_id inside the horizon — scope
    # the state-store count like the other real-engine rows.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            deduped_stream(
                stream,
                key_cols=("event_id",),
                time_col="ts",
                watermark="1 hour",
            )
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        # no row may have been dropped as late: if any was, a green
        # oracle row could be explained by the watermark filter instead
        # of dedup state — the behavior under test.
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the replay "
                f"protocol guarantees none should be"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(sink).orderBy("event_id")


@query(
    "q_stream_interval_join",
    """
    SELECT l.event_id AS l_id, r.event_id AS r_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'view'
     AND r.ts BETWEEN l.ts - INTERVAL 24 HOUR AND l.ts
    ORDER BY 1, 2
    """,
    "Stream-stream interval join under the REAL Structured Streaming "
    "engine — the last stateful behavior class not yet under the "
    "driver gate (aggregation, session merge, watermark drop, and "
    "key-state dedup have real-engine rows; JOIN state did not): "
    "clicks and views arrive as two separate file sources, each as 4 "
    "time-aligned epoch files (one file per source per micro-batch), "
    "through the actual streaming/windows.py interval_join plan — "
    "both sides watermarked, the join time-bounded in both "
    "directions (view in [click - 24h, click]), which is what lets "
    "the engine evict buffered rows once the min-of-sources "
    "watermark passes their interval instead of holding both streams "
    "forever. Cross-batch pairs (a view buffered in join state until "
    "its click arrives in a LATER batch) exist at every SF "
    "(tests/test_stateful.py pins 3/60/425 boundary-straddling pairs "
    "at sf0.001/0.01/0.1); in-order arrival per source means no row "
    "is ever behind the min watermark, asserted as "
    "numRowsDroppedByWatermark == 0 from the progress events. Green "
    "against the batch interval-join oracle proves streaming join "
    "state loses nothing and emits each qualifying pair exactly "
    "once — at 100 TB/day the state bound is arrival rate x "
    "(interval + watermark horizon) per side, never history.",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.windows import interval_join

    base = _scratch(sf_dir, "interval_join")
    src_l, src_r = f"{base}/src_l", f"{base}/src_r"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src_l)
    os.makedirs(src_r)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "event_type",
    )
    # epoch boundaries from the FULL table so both sides' files are
    # time-ALIGNED (batch k carries the same time span from each
    # source) and match the non-vacuity test's epoch definition.
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")
    views = ev.where(F.col("event_type") == "view").drop("event_type")
    _write_epoch_files_one_job(
        base, src_l, clicks, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    _write_epoch_files_one_job(
        base, src_r, views, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )

    def _source(path: str):
        return (
            spark.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        joined = interval_join(
            _source(src_l),
            _source(src_r),
            on="user_id",
            left_time="ts",
            right_time="ts",
            max_delay="24 hours",
            watermark="1 hour",
        ).select(
            F.col("l.event_id").alias("l_id"),
            F.col("r.event_id").alias("r_id"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        # in-order arrival per source + min-of-sources watermark means
        # nothing may be late; a drop here would mean missed pairs
        # explained by eviction rather than join semantics.
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the in-order "
                f"two-source protocol guarantees none should be"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(sink).orderBy("l_id", "r_id")


@query(
    "q_stream_interval_join_outer",
    """
    SELECT l.event_id AS l_id, r.event_id AS r_id
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL 24 HOUR AND l.ts
    ORDER BY 1, 2
    """,
    "Stream-stream LEFT OUTER interval join under the REAL Structured "
    "Streaming engine — the join-state eviction behavior the r9 INNER "
    "row cannot exercise: an inner join only ever emits on match, so "
    "its green proves buffered rows are kept long enough; the outer "
    "variant proves the OTHER half of the state machine — an "
    "unmatched buffered click emits its NULL-padded row exactly once, "
    "and only when the watermark passes its interval and eviction "
    "runs (outer results trail the watermark, not the arrival clock). "
    "That is the 'clicks that never got a view' shape the reference's "
    "unmatched-address accounting depends on (core/reporter.go:"
    "102-122). Same two-source protocol as the inner row (4 "
    "time-aligned epoch files per side, 24 h interval, 1 h watermark) "
    "plus two far-future sentinels per source under reserved "
    "event_id -1: the min-of-sources watermark must pass the last "
    "real interval for the final unmatched clicks to flush, which no "
    "real file can cause — exactly the eviction-driven emission under "
    "test. Non-vacuity pinned at every SF (tests/test_stateful.py): "
    "unmatched clicks exist (133/1289/12807 at sf0.001/0.01/0.1) AND "
    "matched pairs straddle epoch boundaries (3/60/425), so a join "
    "that dropped buffered state early (NULL rows where pairs "
    "belong), emitted unmatched rows eagerly (duplicate l_id rows: "
    "one NULL + one matched), or never evicted (missing NULL rows) "
    "all hash-red against the batch LEFT JOIN oracle. "
    "numRowsDroppedByWatermark == 0 is asserted so in-order arrival "
    "(not late-drop) explains every row. At 100 TB/day state is still "
    "bounded by arrival rate x (interval + horizon) per side — outer "
    "emission adds no state, only an emit-on-evict path.",
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.windows import interval_join

    base = _scratch(sf_dir, "interval_join_outer")
    src_l, src_r = f"{base}/src_l", f"{base}/src_r"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src_l)
    os.makedirs(src_r)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "event_type",
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")
    views = ev.where(F.col("event_type") == "view").drop("event_type")
    _write_epoch_files_one_job(
        base, src_l, clicks, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    _write_epoch_files_one_job(
        base, src_r, views, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    # sentinels on BOTH sources (the watermark is the min across
    # sources): reserved event_id/user_id -1, filtered from the result.
    # The sentinel click is itself an unmatched left row — its NULL
    # emission (s0's, once s1 advances the watermark past it) is
    # harmless and excluded by the id filter.
    sentinel_extra = (("user_id", -1, "bigint"),)
    _write_sentinel_files(
        src_l, hi, t0, "event_id", -1, "bigint", extra=sentinel_extra
    )
    _write_sentinel_files(
        src_r, hi, t0, "event_id", -1, "bigint", extra=sentinel_extra
    )

    def _source(path: str):
        return (
            spark.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        joined = interval_join(
            _source(src_l),
            _source(src_r),
            on="user_id",
            left_time="ts",
            right_time="ts",
            max_delay="24 hours",
            watermark="1 hour",
            how="leftOuter",
        ).select(
            F.col("l.event_id").alias("l_id"),
            F.col("r.event_id").alias("r_id"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the in-order "
                f"two-source protocol guarantees none should be"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = spark.read.parquet(sink).where(F.col("l_id") >= 0)
    # the eviction path must actually have run: zero NULL-padded rows
    # would mean the outer semantics were vacuous (or eviction never
    # emitted), even if every matched pair hashed green.
    if out.where(F.col("r_id").isNull()).head() is None:
        raise RuntimeError(
            "no unmatched click was emitted; the outer-eviction path "
            "under test never fired"
        )
    return out.orderBy("l_id", "r_id")


@query(
    "q_stream_interval_join_full",
    """
    SELECT l.event_id AS l_id, r.event_id AS r_id
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    FULL JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL 24 HOUR AND l.ts
    ORDER BY 1, 2
    """,
    "Stream-stream FULL OUTER interval join under the REAL Structured "
    "Streaming engine — closes the join-type matrix under the driver "
    "hash gate (inner r9, leftOuter r10 rows; rightOuter/fullOuter "
    "were real-engine pytest pins only, tests/test_stateful.py). The "
    "full variant is the only one whose state machine must run the "
    "eviction-emit path on BOTH buffers: an unmatched click emits "
    "(l, NULL) and an unmatched view emits (NULL, r), each exactly "
    "once and only when the min-of-sources watermark passes its "
    "interval — a right row is held until watermark > r.ts + 24 h "
    "(it could still match a later click), symmetric to the left "
    "hold. That is the reconciliation shape of a two-ledger audit: "
    "every record from EITHER stream accounted for, matched or "
    "explicitly orphaned. Same two-source protocol as the other "
    "interval rows (4 time-aligned epoch files per side, 24 h "
    "interval, 1 h watermark, sentinels on both sources under "
    "reserved id -1 so the final orphans flush). Non-vacuity pinned "
    "at every SF (tests/test_stateful.py): unmatched rows exist on "
    "BOTH sides (clicks 133/1289/12807, views 120/1281/12885 at "
    "sf0.001/0.01/0.1) and matched pairs straddle epoch boundaries, "
    "so dropped buffers, eager orphan emission (duplicate ids), or a "
    "never-evicting side all hash-red against the batch FULL JOIN "
    "oracle. numRowsDroppedByWatermark == 0 asserted. At 100 TB/day "
    "state stays arrival rate x (interval + horizon) PER SIDE — full "
    "outer adds the second emit-on-evict path, not more state.",
)
def q_stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.windows import interval_join

    base = _scratch(sf_dir, "interval_join_full")
    src_l, src_r = f"{base}/src_l", f"{base}/src_r"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src_l)
    os.makedirs(src_r)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "event_type",
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")
    views = ev.where(F.col("event_type") == "view").drop("event_type")
    _write_epoch_files_one_job(
        base, src_l, clicks, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    _write_epoch_files_one_job(
        base, src_r, views, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    # sentinels on BOTH sources (the watermark is the min across
    # sources), reserved event_id/user_id -1. The co-timestamped
    # sentinel click+view pair matches ITSELF (equal ts is inside the
    # interval), so sentinels add only filtered (-1,-1) rows — never a
    # spurious orphan.
    sentinel_extra = (("user_id", -1, "bigint"),)
    _write_sentinel_files(
        src_l, hi, t0, "event_id", -1, "bigint", extra=sentinel_extra
    )
    _write_sentinel_files(
        src_r, hi, t0, "event_id", -1, "bigint", extra=sentinel_extra
    )

    def _source(path: str):
        return (
            spark.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        joined = interval_join(
            _source(src_l),
            _source(src_r),
            on="user_id",
            left_time="ts",
            right_time="ts",
            max_delay="24 hours",
            watermark="1 hour",
            how="fullOuter",
        ).select(
            F.col("l.event_id").alias("l_id"),
            F.col("r.event_id").alias("r_id"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the in-order "
                f"two-source protocol guarantees none should be"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # keep NULLs (the orphans under test); drop only sentinel ids on
    # either side
    out = spark.read.parquet(sink).where(
        (F.col("l_id").isNull() | (F.col("l_id") >= 0))
        & (F.col("r_id").isNull() | (F.col("r_id") >= 0))
    )
    # BOTH eviction paths must actually have run: an engine that only
    # implemented the left half (or flushed neither) would still hash
    # green on every matched pair.
    if out.where(F.col("r_id").isNull()).head() is None:
        raise RuntimeError(
            "no unmatched click was emitted; the left eviction path "
            "under test never fired"
        )
    if out.where(F.col("l_id").isNull()).head() is None:
        raise RuntimeError(
            "no unmatched view was emitted; the right eviction path "
            "under test never fired"
        )
    return out.orderBy("l_id", "r_id")


#: Shared oracle for BOTH brute-force detector rows (ordered and
#: unordered arrival run the same fold over the same feed, so they
#: share one RANGE-window fixpoint): the second-distinct per-user
#: 'error' stream plus the deterministic cross-boundary probe pair
#: under reserved address '-1' — whole-second arithmetic identical to
#: :func:`_bruteforce_feed_with_probes`, so the probe alert is part of
#: the hashed answer.
_BRUTEFORCE_ORACLE = """
    WITH bounds AS (
        SELECT date_diff('second', TIMESTAMP '1970-01-01',
                         MIN(date_trunc('second', ts))) AS lo_s,
               date_diff('second', TIMESTAMP '1970-01-01',
                         MAX(date_trunc('second', ts))) AS hi_s
        FROM events WHERE event_type = 'error'
    ),
    errs AS (
        SELECT DISTINCT CAST(user_id AS VARCHAR) AS address,
               date_diff('second', TIMESTAMP '1970-01-01',
                         date_trunc('second', ts)) AS sec
        FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT '-1', lo_s + (hi_s - lo_s) // 4 - 1200 FROM bounds
        UNION ALL
        SELECT '-1', lo_s + (hi_s - lo_s) // 4 + 1200 FROM bounds
    ),
    windowed AS (
        SELECT address, sec AS window_end_sec,
               CAST(COUNT(*) OVER win AS BIGINT) AS n_events,
               MIN(sec) OVER win AS window_start_sec
        FROM errs
        WINDOW win AS (PARTITION BY address ORDER BY sec
                       RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    )
    SELECT address, n_events, window_start_sec, window_end_sec
    FROM windowed WHERE n_events >= 2
    ORDER BY address, window_end_sec
    """


def _bruteforce_feed_with_probes(spark: SparkSession, sf_dir: str):
    """The detector rows' shared feed: the second-distinct per-address
    error stream (truncate BEFORE the dedup so feed, epoch split, and
    oracle see the same second-granular event set; ts leads the column
    order — the sentinel-file layout) plus the probe pair bracketing
    the first quartile boundary at +/- 1200 s. lo/hi are second-
    truncated so lo_s/hi_s are exact ints; the quartile file boundary
    sits within 1 s of lo_s + (hi_s - lo_s) // 4, which the 1200 s
    margin dwarfs, so probe-1 always lands in epoch file 0 and
    probe-2 in file 1, 2400 s apart (inside the 3600 s window).
    Returns (feed_with_probes, lo, hi, lo_s)."""
    import datetime

    feed = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.date_trunc("second", F.col("ts").cast("timestamp")).alias(
                "ts"
            ),
            F.col("user_id").cast("string").alias("address"),
        )
        .dropDuplicates(["address", "ts"])
    )
    lo, hi = feed.agg(F.min("ts"), F.max("ts")).head()
    epoch0 = datetime.datetime(1970, 1, 1)
    lo_s = (lo - epoch0) // datetime.timedelta(seconds=1)
    hi_s = (hi - epoch0) // datetime.timedelta(seconds=1)
    b_sec = lo_s + (hi_s - lo_s) // 4
    probes = spark.createDataFrame(
        [
            (epoch0 + datetime.timedelta(seconds=b_sec - 1200), "-1"),
            (epoch0 + datetime.timedelta(seconds=b_sec + 1200), "-1"),
        ],
        schema=feed.schema,
    )
    return feed.unionByName(probes), lo, hi, lo_s


def _bruteforce_result(
    spark: SparkSession, sink: str, lo, span_us: int, carry: str
) -> DataFrame:
    """The detector rows' shared output projection (epoch-second
    bigints, engine-portable) and straddle guard: some alert's window
    must span two epoch FILES — boundaries re-derived through the
    exact :func:`_epoch_index` the writer used, on timestamps rebuilt
    from the output seconds — or the cross-batch carry named by
    ``carry`` was never exercised. The probe pair guarantees at least
    one such alert at every SF."""
    out = spark.read.parquet(sink).select(
        "address",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.unix_timestamp("window_start").alias("window_start_sec"),
        F.unix_timestamp("window_end").alias("window_end_sec"),
    )
    straddle = (
        out.withColumn("_ws", F.timestamp_seconds("window_start_sec"))
        .withColumn("_we", F.timestamp_seconds("window_end_sec"))
        .where(
            _epoch_index("_ws", lo, span_us, _N_EPOCHS)
            < _epoch_index("_we", lo, span_us, _N_EPOCHS)
        )
        .head()
    )
    if straddle is None:
        raise RuntimeError(
            f"no alert window straddles an epoch boundary; the "
            f"{carry} under test was never exercised"
        )
    return out.orderBy("address", "window_end_sec")


@query(
    "q_stream_bruteforce_alerts",
    _BRUTEFORCE_ORACLE,
    "The flagship stateful operator under the REAL Structured "
    "Streaming engine: streaming/stateful.py's brute_force_alerts — "
    "the per-address sliding-window alert state machine the module "
    "docstring calls the real-time takuan (SURVEY §2.1's "
    "applyInPandasWithState north star; ref core/reporter.go counts "
    "the same per-address events offline) — until this row certified "
    "only via its batch analog (q_stateful_alerts) and pytest. "
    "Detector tuning cooldown=0, threshold=2, window=1 h over the "
    "second-distinct per-user 'error' stream, which makes the alert "
    "set EXACTLY the RANGE-window fixpoint the batch analog defines "
    "(brute_force_alerts_batch's docstring: with cooldown disabled, "
    "one alert per event whose trailing (t-3600 s, t] census reaches "
    "threshold; second-distinct feed because the detector's state is "
    "second-granular while RANGE peers tie). Events arrive as 4 "
    "time-quartile epoch files (maxFilesPerTrigger=1), so the "
    "ORDERED-ARRIVAL contract of the detector's fold holds by "
    "protocol — pinned here as in q_stream_custom_state; the "
    "buffer-and-seal variant (make_gap_buffer_update_fn) is the "
    "certified pattern for unordered sources, and the detector's "
    "cooldown re-arm would need exactly that treatment behind a "
    "non-time-partitioned source. State per address is the in-window "
    "event times (avg gap ~45 min -> 1-2 entries) + last-alert; "
    "alerts emit INLINE in the batch that crosses the threshold "
    "(append mode, no flush sentinels needed — the one real-engine "
    "stateful row whose output rides the data clock, not the "
    "watermark). Cross-batch state carry is made load-bearing BY "
    "CONSTRUCTION at every SF: a deterministic probe pair under "
    "reserved address '-1' brackets the first epoch-file boundary at "
    "+/- 20 min (whole-second arithmetic reproduced verbatim in the "
    "oracle's bounds CTE, so the probe alert is part of the hashed "
    "answer) — the corpus's natural straddles (0/1/3 at "
    "sf0.001/0.01/0.1, too sparse to pin at the smallest SF) ride on "
    "top. The in-row guard asserts a straddling alert exists "
    "(window_start in an earlier epoch file than window_end): a "
    "detector that lost its recent-times state between micro-batches "
    "would miss the probe alert and both red the guard and hash-red. "
    "tests/test_stateful.py pins the probe geometry at every shipped "
    "SF and exercises the idle-eviction timer on the real engine "
    "(ProcessingTimeTimeout + live trigger), which this availableNow "
    "drain correctly runs with NoTimeout (the documented "
    "drain-and-stop contract). At 100 TB/day: state is "
    "O(active addresses) x a handful of timestamps, key-partitioned "
    "across executors, evicted after window+cooldown idle — no "
    "driver state, the deployment shape of every per-entity online "
    "detector.",
)
def q_stream_bruteforce_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.queries.stateful_analog import _THRESHOLD, _WINDOW_SECS
    from takuan_zoo.streaming.stateful import brute_force_alerts

    base = _scratch(sf_dir, "bruteforce")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    feed, lo, hi, _lo_s = _bruteforce_feed_with_probes(spark, sf_dir)
    t0 = 1_600_000_000.0
    span_us = _write_epoch_files_one_job(
        base, src, feed, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )

    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # 16 as in q_stream_custom_state: per-batch cost is per-GROUP
    # Python invocations, which parallelize across state partitions.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            brute_force_alerts(
                stream,
                address_col="address",
                time_col="ts",
                threshold=_THRESHOLD,
                window_secs=_WINDOW_SECS,
                cooldown_secs=0,
                idle_timeout_secs=None,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return _bruteforce_result(
        spark, sink, lo, span_us, "cross-batch state carry"
    )


@query(
    "q_stream_bruteforce_unordered",
    _BRUTEFORCE_ORACLE,
    "The brute-force detector under OUT-OF-ORDER epoch arrival "
    "([1,0,3,2], the q_stream_unordered_state delivery) — the r11 "
    "verdict's stretch goal closed: the detector's fold is DOUBLY "
    "order-dependent (the sliding census tracks times within the "
    "window of the LATEST seen event; the cooldown re-arm compares "
    "against the last alert), so the ordered detector mislabels "
    "inverted feeds (pytest pins the negative control: on this exact "
    "delivery shape the ordered fold emits a malformed alert whose "
    "window_start > window_end), while this row's "
    "brute_force_alerts_unordered buffers event seconds in state and "
    "SEALS the sorted prefix strictly below floor(watermark) through "
    "the exact shared fold (_fold_alerts) the ordered path runs — "
    "sealed-prefix-at-a-time equals all-at-once by construction, so "
    "the SAME RANGE-window oracle (with the same reserved-address "
    "probe pair, which under this delivery arrives out of event-time "
    "order by construction: the epoch-1 file leads the epoch-0 file) "
    "hash-gates it. Watermark delay 0.6x the corpus span: nothing "
    "drops under the inverted delivery "
    "(numRowsDroppedByWatermark == 0 asserted) AND the final real "
    "batch runs a MID-STREAM seal, so prefix-seal alert emission — "
    "not just the timeout flush — is on the hash-gated path; flush "
    "sentinels ride the delay under reserved address '-2' (isolated "
    "in time, they can never alert) and the timeout sweep seals the "
    "tail. Alerts here trail the WATERMARK rather than the data "
    "clock — the documented price of tolerated disorder, with state "
    "= in-window census + 8 bytes per pending event bounded by "
    "delay x per-key rate; the ordered row is the zero-buffer, "
    "data-clock special case. Together the two rows certify the "
    "detector across both arrival contracts in the deployment "
    "matrix (ARCHITECTURE.md, stateful arrival-contract table).",
)
def q_stream_bruteforce_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    from takuan_zoo.queries.stateful_analog import _THRESHOLD, _WINDOW_SECS
    from takuan_zoo.streaming.stateful import brute_force_alerts_unordered

    base = _scratch(sf_dir, "bruteforce_unordered")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    feed, lo, hi, _lo_s = _bruteforce_feed_with_probes(spark, sf_dir)
    t0 = 1_600_000_000.0
    span_us = _write_epoch_files_one_job(
        base, src, feed, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    # re-stamp arrival to [1, 0, 3, 2]: the probe pair's epoch-1 event
    # now ARRIVES before its epoch-0 partner — the out-of-order carry
    # under test reaches the hash-gated probe alert by construction
    for rank, e in enumerate((1, 0, 3, 2)):
        f = os.path.join(src, f"e{e}.parquet")
        if os.path.exists(f):
            mt = t0 + 10 * rank
            os.utime(f, (mt, mt))
    # 0.6x span: inverted delivery drops nothing, final real batch
    # seals mid-stream (same derivation as q_stream_unordered_state)
    delay_secs = int(0.6 * (hi - lo).total_seconds()) + 1
    delay_days = delay_secs / 86400.0
    # sentinels under reserved address '-2' (NOT the probe's '-1': the
    # probe is part of the hashed answer; the sentinels — two events
    # ten days apart, far beyond any window — can never alert and so
    # need no output filter)
    _write_sentinel_files(
        src, hi, t0, "address", "-2", "string",
        days=(10 + delay_days, 20 + delay_days),
    )
    flush_at_ms = int(
        (hi + datetime.timedelta(days=1))
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
        * 1000
    )

    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            brute_force_alerts_unordered(
                stream,
                address_col="address",
                time_col="ts",
                threshold=_THRESHOLD,
                window_secs=_WINDOW_SECS,
                cooldown_secs=0,
                watermark=f"{delay_secs} seconds",
                flush_at_ms=flush_at_ms,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the 0.6x-span "
                f"tolerance guarantees the [1,0,3,2] delivery drops none"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # the probe alert must exist AND straddle the epoch boundary —
    # under this delivery that alert is only computable through the
    # buffer (its window's events arrived inverted)
    return _bruteforce_result(
        spark, sink, lo, span_us, "out-of-order cross-batch carry"
    )


@query(
    "q_stream_bruteforce_restart",
    _BRUTEFORCE_ORACLE,
    "CUSTOM (applyInPandasWithState) state surviving a CHECKPOINT "
    "RESTART — the recovery behavior q_stream_checkpoint_restart "
    "cannot certify: that row restarts a BUILT-IN windowed "
    "aggregation, whose state schema the engine owns; this one stops "
    "and restarts the brute-force detector, whose state is a "
    "USER-DEFINED schema (recent-times csv + last-alert long) written "
    "by Arrow-batched Python — the state store must round-trip it "
    "across query objects byte-faithfully or the census silently "
    "thins. Protocol: same feed/probe/oracle as "
    "q_stream_bruteforce_alerts, but the restart boundary is placed "
    "EXACTLY at the epoch-0/1 file boundary the probe pair straddles "
    "— run 1 (query object 1) drains only epoch file 0, carrying "
    "probe-1 in the '-1' key's state into the checkpoint; the "
    "process-level stop() discards every in-memory state map; run 2 "
    "(a NEW query object on the same checkpoint) drains epochs 1-3, "
    "and the probe alert at probe-2 is only computable from state "
    "RECOVERED off the checkpoint — lost state misses the alert "
    "(straddle guard + hash red), re-read files double the census "
    "(hash red), and offset resumption is asserted mechanically "
    "(run-2 batchIds strictly continue run-1's). No sentinels: the "
    "detector emits inline on the data clock (NoTimeout), so "
    "recovery needs no watermark choreography — which is also why "
    "this row isolates STATE-STORE recovery rather than re-testing "
    "watermark recovery (q_stream_checkpoint_restart's axis). At "
    "100 TB/day this is the upgrade-and-resume path of a deployed "
    "detector: HDFS/RocksDB state files outlive the driver, and the "
    "per-key census continues mid-window across the bounce.",
)
def q_stream_bruteforce_restart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from takuan_zoo.queries.stateful_analog import _THRESHOLD, _WINDOW_SECS
    from takuan_zoo.streaming.stateful import brute_force_alerts

    base = _scratch(sf_dir, "bruteforce_restart")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    stage = f"{base}/stage"
    os.makedirs(src)
    os.makedirs(stage)
    feed, lo, hi, _lo_s = _bruteforce_feed_with_probes(spark, sf_dir)
    t0 = 1_600_000_000.0
    # all four files staged up front; the restart boundary is WHICH
    # are visible to each run (shutil.move preserves mtimes, so
    # arrival order within each run stays the protocol's)
    span_us = _write_epoch_files_one_job(
        base, stage, feed, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    run2_files = [
        name
        for name in (f"e{k}.parquet" for k in range(1, _N_EPOCHS))
        if os.path.exists(os.path.join(stage, name))
    ]
    # epoch 0 cannot be empty: it holds probe-1 by construction
    shutil.move(
        os.path.join(stage, "e0.parquet"), os.path.join(src, "e0.parquet")
    )

    def _start():
        stream = (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            brute_force_alerts(
                stream,
                address_col="address",
                time_col="ts",
                threshold=_THRESHOLD,
                window_secs=_WINDOW_SECS,
                cooldown_secs=0,
                idle_timeout_secs=None,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q1 = _start()
        _await_or_die(q1, 600)
        if not q1.recentProgress:
            raise RuntimeError(
                "run 1 produced no progress events; the pre-restart "
                "epoch was never batched and the recovery check would "
                "be vacuous"
            )
        last_b1 = max(p["batchId"] for p in q1.recentProgress)
        # run 1 must have STATE to lose: epoch 0 holds probe-1, so the
        # state operator's row count is >= 1 by construction — assert
        # it from the engine's own metrics rather than trusting the
        # construction silently.
        rows_run1 = max(
            (
                op.get("numRowsTotal", 0)
                for p in q1.recentProgress
                for op in p.get("stateOperators", [])
            ),
            default=0,
        )
        if rows_run1 == 0:
            raise RuntimeError(
                "run 1 ended with an empty state store; nothing would "
                "cross the restart and the recovery check is vacuous"
            )
        # the restart: epochs 1-3 become visible only to the SECOND
        # query object, which recovers offsets + the Python-defined
        # state schema from the first's checkpoint
        for name in run2_files:
            shutil.move(os.path.join(stage, name), os.path.join(src, name))
        q2 = _start()
        _await_or_die(q2, 600)
        if not q2.recentProgress:
            raise RuntimeError(
                "run 2 produced no progress events; the post-restart "
                "epochs were never batched"
            )
        first_b2 = min(p["batchId"] for p in q2.recentProgress)
        if first_b2 <= last_b1:
            raise RuntimeError(
                f"restart did not resume offsets: run 2 began at batch "
                f"{first_b2}, run 1 ended at {last_b1}"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # the straddle guard doubles as the recovery proof here: the
    # straddling (probe) alert's window opened before the restart and
    # closed after it
    return _bruteforce_result(
        spark, sink, lo, span_us, "restart-recovered state carry"
    )


@query(
    "q_stream_interval_join_right",
    """
    SELECT l.event_id AS l_id, r.event_id AS r_id
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    RIGHT JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id
     AND r.ts BETWEEN l.ts - INTERVAL 24 HOUR AND l.ts
    ORDER BY 1, 2
    """,
    "Stream-stream RIGHT OUTER interval join under the REAL Structured "
    "Streaming engine — the last join type in the matrix without its "
    "own oracle row (inner r9, leftOuter r10, fullOuter r11; rightOuter "
    "was a real-engine pytest pin only, tests/test_stateful.py). "
    "Mirror-image state machine of the leftOuter row: matched pairs "
    "emit on arrival, while an unmatched buffered VIEW emits its "
    "(NULL, r) row exactly once — and only when the min-of-sources "
    "watermark passes r.ts + 24 h, the point after which no later "
    "click can still claim it (the right hold is LONGER than the left "
    "one: a click's interval looks back, so a view must outwait the "
    "whole look-back span). That asymmetry is exactly what this row "
    "pins that the fullOuter row cannot in isolation: here the LEFT "
    "eviction path must stay silent — any (l, NULL) row is a hash "
    "mismatch against the batch RIGHT JOIN oracle, so an engine that "
    "wired the outer side to the wrong buffer reds immediately. Same "
    "two-source protocol as the other interval rows (4 time-aligned "
    "epoch files per side, 24 h interval, 1 h watermark, sentinels on "
    "both sources under reserved id -1 so the final orphans flush). "
    "Non-vacuity pinned at every SF (tests/test_stateful.py): "
    "unmatched views exist (120/1281/12885 at sf0.001/0.01/0.1) and "
    "matched pairs straddle epoch boundaries; in-query guard asserts "
    "the right-eviction path fired. numRowsDroppedByWatermark == 0 "
    "asserted. At 100 TB/day state stays arrival rate x (interval + "
    "horizon) per side, identical to the inner join — the outer "
    "variant adds the emit-on-evict path, not more state.",
)
def q_stream_interval_join_right(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from takuan_zoo.streaming.windows import interval_join

    base = _scratch(sf_dir, "interval_join_right")
    src_l, src_r = f"{base}/src_l", f"{base}/src_r"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src_l)
    os.makedirs(src_r)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "event_type",
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")
    views = ev.where(F.col("event_type") == "view").drop("event_type")
    _write_epoch_files_one_job(
        base, src_l, clicks, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    _write_epoch_files_one_job(
        base, src_r, views, time_col="ts", lo=lo, hi=hi,
        n_epochs=_N_EPOCHS, t0=t0,
    )
    # sentinels on BOTH sources (the watermark is the min across
    # sources), reserved event_id/user_id -1; the co-timestamped
    # sentinel pair matches itself, so sentinels add only filtered
    # (-1, -1) rows — never a spurious orphan.
    sentinel_extra = (("user_id", -1, "bigint"),)
    _write_sentinel_files(
        src_l, hi, t0, "event_id", -1, "bigint", extra=sentinel_extra
    )
    _write_sentinel_files(
        src_r, hi, t0, "event_id", -1, "bigint", extra=sentinel_extra
    )

    def _source(path: str):
        return (
            spark.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        joined = interval_join(
            _source(src_l),
            _source(src_r),
            on="user_id",
            left_time="ts",
            right_time="ts",
            max_delay="24 hours",
            watermark="1 hour",
            how="rightOuter",
        ).select(
            F.col("l.event_id").alias("l_id"),
            F.col("r.event_id").alias("r_id"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the in-order "
                f"two-source protocol guarantees none should be"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # keep NULL l_id (the orphaned views under test); drop sentinels
    out = spark.read.parquet(sink).where(
        (F.col("r_id") >= 0)
        & (F.col("l_id").isNull() | (F.col("l_id") >= 0))
    )
    # the RIGHT eviction path must actually have run: zero NULL-padded
    # rows would mean the outer semantics were vacuous even if every
    # matched pair hashed green.
    if out.where(F.col("l_id").isNull()).head() is None:
        raise RuntimeError(
            "no unmatched view was emitted; the right-eviction path "
            "under test never fired"
        )
    return out.orderBy("l_id", "r_id")


@query(
    "q_stream_custom_state",
    """
    WITH d AS (
        SELECT user_id, epoch_us(ts) AS t_us,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts)) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(t_us) AS BIGINT) AS first_us,
           CAST(MAX(t_us) AS BIGINT) AS last_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM d
    GROUP BY user_id
    ORDER BY user_id
    """,
    "ARBITRARY per-key state under the REAL Structured Streaming "
    "engine (applyInPandasWithState + EventTimeTimeout) — the custom-"
    "stateful-operator tier the five other real-engine rows leave "
    "uncovered: they all exercise BUILT-IN state (windowed agg, "
    "session merge, watermark drop, key-state dedup, join buffers), "
    "while this row runs a user-defined Arrow-batched fold whose "
    "semantics no built-in streaming aggregate expresses: per-user "
    "MAX INTER-ARRIVAL GAP, an order-dependent fold needing the "
    "previous event time (sequential state, not a commutative monoid "
    "over rows). Events arrive as 4 time-ordered epoch files; state "
    "per user is four int64s regardless of event count; every user "
    "with events in more than one epoch exercises cross-batch state "
    "carry, and tests/test_stateful.py pins that at EVERY SF some "
    "user's true max gap straddles an epoch boundary — an "
    "implementation that lost state between micro-batches would "
    "compute a smaller gap there and hash-red against the lag() "
    "oracle (forgotten counts would red n_events for every "
    "multi-epoch user too). Results flush via event-time timeout once "
    "two sentinel files under a reserved user advance the watermark "
    "past the flush point; numRowsDroppedByWatermark == 0 is asserted "
    "so the in-order protocol (not late-drop) explains every row. At "
    "100 TB/day the state store is O(active keys) x four longs, "
    "key-partitioned across executors, no driver state — the "
    "deployment shape for detectors and per-entity lifecycle folds "
    "the built-in operators cannot express.",
)
def q_stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from takuan_zoo.streaming.stateful import interarrival_stats

    base = _scratch(sf_dir, "custom_state")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    # cast as in q_stream_window_fold: withWatermark rejects
    # TIMESTAMP_NTZ; the UTC-pinned session keeps wall-clock values.
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    # time-quartile epochs: batches arrive in event-time order, so a
    # user's per-batch sorted times concatenate to the globally sorted
    # sequence and the cross-batch gap is exactly (batch-first minus
    # carried last). One job writes all four files; sentinels under the
    # reserved user advance the watermark past flush_at (sentinel-1)
    # and trigger the timeout sweep (sentinel-2's batch).
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    _write_sentinel_files(src, hi, t0, "user_id", -1, "bigint")
    # flush one day past the last real event: no in-stream watermark
    # (<= hi - delay) can reach it, so no user flushes while it may
    # still receive events; sentinel-1 (hi + 10 d) advances the
    # watermark far past it, and sentinel-2's batch runs the sweep.
    flush_at_ms = int(
        (hi + datetime.timedelta(days=1))
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
        * 1000
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # 16, not the 4 the JVM-side stateful rows use: here per-BATCH cost
    # is dominated by per-GROUP Python invocations (one pandas call per
    # user per micro-batch), which parallelize across state partitions,
    # while the built-in rows' cost was per-STORE overhead that 4
    # minimized (measured medians at sf0.1: 4 -> 10.7 s, 8 -> 9.0,
    # 16 -> 8.2, 32 -> 10.7).
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            interarrival_stats(
                stream,
                key_col="user_id",
                time_col="ts",
                watermark="1 hour",
                flush_at_ms=flush_at_ms,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        # in-order arrival means nothing may be late: a dropped row
        # would mean a gap silently computed over a thinned sequence.
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the in-order "
                f"epoch protocol guarantees none should be"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.read.parquet(sink)
        .where(F.col("user_id") >= 0)
        .orderBy("user_id")
    )


@query(
    "q_stream_unordered_state",
    """
    WITH d AS (
        SELECT user_id, epoch_us(ts) AS t_us,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts)) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(t_us) AS BIGINT) AS first_us,
           CAST(MAX(t_us) AS BIGINT) AS last_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM d
    GROUP BY user_id
    ORDER BY user_id
    """,
    "q_stream_custom_state's order-dependent fold under OUT-OF-ORDER "
    "batch arrival — the contract gap that row documents away: its "
    "immediate fold is only correct because time-quartile epochs "
    "arrive in event-time order, while a production source (multi-"
    "partition Kafka, S3 listing order) makes no such promise. Here "
    "the SAME four epochs arrive mtime-ordered [1, 0, 3, 2] — every "
    "user with events in epochs 0 and 1 (asserted to exist) reaches "
    "state out of order, and the immediate fold provably reds the "
    "hash (pinned in tests/test_stateful.py: it computes a gap "
    "SPANNING the inversion, e.g. 190 s where the truth is 100 s). "
    "The buffer-and-sort variant (make_gap_buffer_update_fn) instead "
    "buffers event times in state and seals into the running fold "
    "only the prefix strictly below the WATERMARK — safe because the "
    "engine drops later-arriving rows below it before they reach the "
    "operator — so correctness needs no arrival order at all, only "
    "the watermark contract itself. Watermark delay is 0.6x the "
    "corpus span: large enough that the [1,0,3,2] delivery loses "
    "nothing (numRowsDroppedByWatermark == 0 asserted; epoch 0 "
    "arrives at wm = lo - 0.1*span, epoch 2 at wm = lo + 0.4*span "
    "< its min time), small enough that the final real batch runs a "
    "MID-STREAM seal (wm = lo + 0.4*span folds epoch 0 and part of "
    "epoch 1 while epoch 2 is still arriving), so the prefix-seal "
    "path — not just the timeout flush — is on the hash-gated path. "
    "Because the delay is NOT small against the span, the flush "
    "sentinels ride it (hi + delay + 10/20 d): sentinel-2's batch "
    "then runs the timeout sweep at wm = hi + 10 d > flush_at for "
    "any corpus span, instead of depending on the trailing no-data "
    "micro-batch. "
    "State per key = four int64s + 8 bytes per PENDING event, bounded "
    "by watermark delay x per-key rate — the canonical watermarked-"
    "operator state bound; at 100 TB/day the buffer is the price of "
    "tolerated disorder and the ordered row is the zero-buffer "
    "special case.",
)
def q_stream_unordered_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from takuan_zoo.streaming.stateful import interarrival_stats

    base = _scratch(sf_dir, "unordered_state")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    span_us = _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    # re-stamp arrival order to [1, 0, 3, 2]: epoch 1 leads epoch 0 and
    # epoch 3 leads epoch 2 (absent files = empty epochs, skipped)
    for rank, e in enumerate((1, 0, 3, 2)):
        f = os.path.join(src, f"e{e}.parquet")
        if os.path.exists(f):
            mt = t0 + 10 * rank
            os.utime(f, (mt, mt))
    # 0.6x span: the no-drop and mid-stream-seal derivations are in the
    # registry docstring (both margins 0.1x span)
    delay_secs = int(0.6 * (hi - lo).total_seconds()) + 1
    # flush-side constraint: the delay is NOT small against the corpus
    # span (~18 d at 30 d), so fixed hi+10d/+20d sentinels would leave
    # sentinel-2's batch watermark (hi + 10 d - delay) BELOW flush_at
    # and the sweep hostage to the trailing no-data micro-batch. Riding
    # the delay keeps the sweep in sentinel-2's file batch for ANY
    # span: wm there = ts(sentinel-1) - delay = hi + 10 d > flush_at.
    delay_days = delay_secs / 86400.0
    _write_sentinel_files(
        src, hi, t0, "user_id", -1, "bigint",
        days=(10 + delay_days, 20 + delay_days),
    )
    # non-vacuity: some user must have events in BOTH epoch 0 and epoch
    # 1, so the inverted arrival actually feeds that user's state out
    # of event-time order (tests pin this at every shipped SF too);
    # span_us comes from the epoch writer so the boundaries checked are
    # exactly the boundaries written
    ep = _epoch_index("ts", lo, span_us, _N_EPOCHS)
    inverted = (
        ev.select(F.col("user_id"), ep.alias("_ep"))
        .where(F.col("_ep").isin(0, 1))
        .groupBy("user_id")
        .agg(F.countDistinct("_ep").alias("k"))
        .where(F.col("k") == 2)
        .head()
    )
    if inverted is None:
        raise RuntimeError(
            "no user has events in both epoch 0 and epoch 1; the "
            "out-of-order arrival under test would be vacuous"
        )
    flush_at_ms = int(
        (hi + datetime.timedelta(days=1))
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
        * 1000
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        q = (
            interarrival_stats(
                stream,
                key_col="user_id",
                time_col="ts",
                watermark=f"{delay_secs} seconds",
                flush_at_ms=flush_at_ms,
                assume_ordered_arrival=False,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
        # the 0.6x-span tolerance is sized so the inverted delivery
        # loses NOTHING: a drop would mean the fold ran over a thinned
        # sequence (and the no-drop derivation above was wrong)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        if dropped != 0:
            raise RuntimeError(
                f"{dropped} rows dropped at the watermark; the 0.6x-span "
                f"tolerance guarantees the [1,0,3,2] delivery drops none"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        spark.read.parquet(sink)
        .where(F.col("user_id") >= 0)
        .orderBy("user_id")
    )


@query(
    "q_stream_static_join",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'click'
    ORDER BY e.event_id
    """,
    "Stream-STATIC join under the REAL Structured Streaming engine — "
    "the remaining join class after q_stream_interval_join covered "
    "stream-stream: a click stream is enriched against the static "
    "customer dimension with an explicit broadcast hint, so every "
    "micro-batch runs a stateless BroadcastHashJoin (no watermark, no "
    "join state, no shuffle of the stream side) — the dimension-"
    "enrichment shape of the reference's GeoIP join (core/"
    "aggregator.go:60-67) as a LIVE stream rather than the registered "
    "batch join. Green against the batch-join oracle proves each "
    "qualifying event is enriched and appended exactly once across "
    "micro-batches; at 100 TB/day the stream side never shuffles and "
    "the dim broadcast is per-executor-once per batch, which is why "
    "this shape holds at cluster scale while a keyed stream-stream "
    "join would pay state for a table that never changes.",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch(sf_dir, "static_join")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "event_type",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    # no sentinels and no watermark: the join is stateless (static side
    # is a table, not a stream), so every batch's matches append
    # immediately — nothing waits on event time.
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .where(F.col("event_type") == "click")
    )
    joined = (
        stream.join(
            F.broadcast(cust),
            stream.user_id == cust.c_custkey,
            "inner",
        )
        .select("event_id", "user_id", "c_name", "c_nationkey")
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_die(q, 600)
    return spark.read.parquet(sink).orderBy("event_id")


@query(
    "q_stream_static_join_shuffle",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'click'
    ORDER BY e.event_id
    """,
    "Stream-static join with the SHUFFLE plan — the same enrichment "
    "query as q_stream_static_join with the broadcast hint removed "
    "and autoBroadcastJoinThreshold forced off: at 100 TB a dimension "
    "can exceed what every executor can hold, and the stream side "
    "must shuffle per micro-batch into a SortMergeJoin / "
    "ShuffledHashJoin instead. The physical plan of EVERY micro-batch "
    "is pinned from inside the foreachBatch sink (no "
    "BroadcastHashJoin anywhere; a shuffle join present), so both "
    "plan shapes of the dimension-enrichment class are now certified "
    "against the SAME DuckDB oracle — green proves plan choice is a "
    "pure physical-strategy swap with identical join semantics, the "
    "property that lets a deployment flip the hint off when the dim "
    "outgrows broadcast without re-validating results.",
)
def q_stream_static_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch(sf_dir, "static_join_shuffle")
    src, sink, ckpt = f"{base}/src", f"{base}/sink", f"{base}/ckpt"
    os.makedirs(src)
    os.makedirs(sink)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "event_type",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .where(F.col("event_type") == "click")
    )
    # NO broadcast hint — and the threshold forced off so neither the
    # planner nor AQE can promote the dim to a broadcast; the per-batch
    # plan must be the shuffle join a too-big-to-broadcast dim requires.
    joined = stream.join(
        cust, stream.user_id == cust.c_custkey, "inner"
    ).select("event_id", "user_id", "c_name", "c_nationkey")

    plans: list[str] = []

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        # foreachBatch runs on the driver. The batch frame itself wraps
        # the ALREADY-computed micro-batch output (an ExistingRDD — the
        # join executed upstream in the streaming plan), so the pin
        # reads the streaming query's own executed plan for THIS batch
        # via explainInternal while the batch is in flight.
        batch.write.mode("append").parquet(sink)
        for aq in spark.streams.active:
            plans.append(aq._jsq.explainInternal(False))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = (
            joined.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    if not plans:
        raise RuntimeError("no micro-batch ran; the plan pin is vacuous")
    for i, p in enumerate(plans):
        if "BroadcastHashJoin" in p:
            raise RuntimeError(
                f"micro-batch {i} planned a BroadcastHashJoin despite "
                f"the forced-off threshold; the shuffle shape under "
                f"test never ran"
            )
        if "SortMergeJoin" not in p and "ShuffledHashJoin" not in p:
            raise RuntimeError(
                f"micro-batch {i} shows neither SortMergeJoin nor "
                f"ShuffledHashJoin:\n{p[:2000]}"
            )
    return spark.read.parquet(sink).orderBy("event_id")


@query(
    "q_stream_update_mode",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    "UPDATE output mode under the REAL Structured Streaming engine — "
    "the one output contract the nine append-mode rows never exercise: "
    "an unwatermarked per-user running count re-emits each key's "
    "REVISED aggregate in every micro-batch that updates it (the "
    "live-dashboard shape), and the sink must upsert by key rather "
    "than append. Events arrive as 4 time-quartile epoch files; the "
    "sink is the real duckdb_upsert_sink (sinks/db.py): executors "
    "stage each batch as parquet, the DB merges it by key "
    "(delete-then-insert) and registers the epoch with its row count "
    "in ONE transaction — the same exactly-once registry protocol the "
    "db-sink replay tests prove, applied to the merge shape. The "
    "update-mode contract is asserted from the sink's own "
    "bookkeeping: >= 2 epochs emitted rows (intermediate emissions "
    "happened) and total emitted rows exceed the final key count (so "
    "by pigeonhole some key was re-emitted with a revised value — "
    "pinned non-vacuous at every SF by the multi-epoch-user test in "
    "tests/test_stateful.py). Green against the batch GROUP BY "
    "oracle proves the emit-revise-merge chain converges to the "
    "all-at-once answer: a sink that appended instead of upserting "
    "holds stale revisions (duplicate keys), and an engine that "
    "emitted final-only rows fails the >= 2-epoch assert. At "
    "100 TB/day the staged-parquet merge keeps row data off the "
    "driver; state is one long per active key.",
)
def q_stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.sinks.db import UPSERT_EPOCH_TABLE, duckdb_upsert_sink

    base = _scratch(sf_dir, "update_mode")
    src, stage, ckpt = f"{base}/src", f"{base}/stage", f"{base}/ckpt"
    db = f"{base}/upsert.duckdb"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    # no watermark and no sentinels: update mode emits every batch's
    # revised keys immediately — nothing waits on event time.
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counts = stream.groupBy("user_id").agg(F.count("*").alias("cnt"))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            counts.writeStream.foreachBatch(
                duckdb_upsert_sink(db, "user_counts", ["user_id"], stage)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    import duckdb

    con = duckdb.connect(db)
    try:
        epochs = [
            int(n)
            for (n,) in con.execute(
                f"SELECT n_rows FROM {UPSERT_EPOCH_TABLE} "
                "WHERE tbl = 'user_counts'"
            ).fetchall()
        ]
        final = con.execute(
            "SELECT user_id, cnt FROM user_counts ORDER BY user_id"
        ).fetchall()
    finally:
        con.close()
    nonempty = sum(1 for n in epochs if n > 0)
    if nonempty < 2:
        raise RuntimeError(
            f"only {nonempty} epoch(s) emitted rows; update mode's "
            f"intermediate-emission contract was never exercised"
        )
    if sum(epochs) <= len(final):
        raise RuntimeError(
            "no key was re-emitted with a revised aggregate (emitted "
            "rows <= final keys); the upsert path was vacuous"
        )
    # the final table is dim-sized (one row per user — the same class
    # as the published top-5 report), so driver-side materialization
    # into a local DataFrame is bounded by the key space, not events.
    return spark.createDataFrame(
        [(int(u), int(c)) for u, c in final], "user_id bigint, cnt bigint"
    ).orderBy("user_id")


@query(
    "q_stream_update_windowed",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           strftime(date_trunc('day', ts) + INTERVAL 1 DAY,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    ORDER BY 1, 3
    """,
    "WATERMARKED WINDOWED aggregation in update output mode with a "
    "COMPOSITE merge key — the second half of the update-mode family: "
    "q_stream_update_mode proves the unwatermarked running-count "
    "shape on a single key; this row proves daily windowed counts "
    "under a watermark re-emitting each (window, event_type) row's "
    "revision per micro-batch into the same duckdb_upsert_sink keyed "
    "on BOTH columns — the delete-then-insert merge must match on the "
    "full composite key or revisions of one event type clobber its "
    "siblings in the same window (the bug class composite upserts "
    "breed), which would collapse row counts and hash-red. No "
    "sentinels: unlike append mode, update mode needs no watermark "
    "flush to surface final values — every batch emits current "
    "revisions, so the post-drain merge state IS the answer; windows "
    "straddling epoch boundaries (pinned at every SF in "
    "tests/test_stateful.py) are emitted >= 2 times and the sink "
    "bookkeeping asserts that re-emission happened. Green against "
    "the calendar-bucket oracle proves watermark + window + update "
    "emission + composite merge compose to the batch GROUP BY. At "
    "100 TB/day this is the live-dashboard hourly-rollup shape: "
    "state bounded by watermark eviction, merge traffic bounded by "
    "revised windows per batch, row data never on the driver.",
)
def q_stream_update_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_spark.sinks.db import UPSERT_EPOCH_TABLE, duckdb_upsert_sink
    from takuan_zoo.streaming.windows import windowed_counts

    base = _scratch(sf_dir, "update_windowed")
    src, stage, ckpt = f"{base}/src", f"{base}/stage", f"{base}/ckpt"
    db = f"{base}/upsert.duckdb"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    counts = windowed_counts(
        stream,
        time_col="ts",
        key_cols=("event_type",),
        window="1 day",
        watermark="1 hour",
    ).select(
        # string keys into the merge: formatted IN the stream so the
        # sink's staged parquet and the DB compare timezone-free
        F.date_format("window_start", fmt).alias("window_start"),
        F.date_format("window_end", fmt).alias("window_end"),
        "event_type",
        F.col("cnt").cast("bigint").alias("cnt"),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            counts.writeStream.foreachBatch(
                duckdb_upsert_sink(
                    db, "win_counts", ["window_start", "event_type"], stage
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    import duckdb

    con = duckdb.connect(db)
    try:
        epochs = [
            int(n)
            for (n,) in con.execute(
                f"SELECT n_rows FROM {UPSERT_EPOCH_TABLE} "
                "WHERE tbl = 'win_counts'"
            ).fetchall()
        ]
        final = con.execute(
            "SELECT window_start, window_end, event_type, cnt "
            "FROM win_counts ORDER BY window_start, event_type"
        ).fetchall()
    finally:
        con.close()
    if sum(1 for n in epochs if n > 0) < 2:
        raise RuntimeError(
            "fewer than 2 epochs emitted rows; the update-mode "
            "intermediate-emission contract was never exercised"
        )
    if sum(epochs) <= len(final):
        raise RuntimeError(
            "no (window, event_type) row was re-emitted with a revised "
            "count (emitted rows <= final rows); the composite-key "
            "merge path was vacuous"
        )
    # dim-sized final table (days x event types)
    return spark.createDataFrame(
        [(ws, we, et, int(c)) for ws, we, et, c in final],
        "window_start string, window_end string, event_type string, "
        "cnt bigint",
    ).orderBy("window_start", "event_type")


@query(
    "q_state_store_reader",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    "The STATE STORE as a queryable table (the state data source, "
    "Spark 4): after an unwatermarked per-user streaming count drains "
    "all 4 epoch files in update mode, the query reads the "
    "checkpoint's state store back as a BATCH DataFrame "
    "(spark.read.format('statestore')) and returns its key/value "
    "rows — which must equal the plain batch GROUP BY exactly "
    "(unwatermarked running aggregation state is the full running "
    "answer, with no eviction timing to depend on). Green certifies "
    "the observability contract a production stream needs at scale: "
    "state is not a black box — an operator's live keys and values "
    "are directly inspectable for debugging, monitoring, and "
    "state-migration audits, without touching the running query. "
    "Any lost epoch, dropped key, or mis-merged count surfaces as a "
    "value mismatch.",
)
def q_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch(sf_dir, "state_reader")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    # no watermark and no sentinels: unwatermarked update-mode state is
    # the complete running aggregate — the reader's contents are exact
    # by construction, independent of eviction timing.
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            stream.groupBy("user_id")
            .agg(F.count("*").alias("cnt"))
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    st = spark.read.format("statestore").load(ckpt)
    # the value struct's field is the aggregation BUFFER's internal
    # name (`count`), not the query alias — resolve both struct fields
    # from the reader's own schema so the row survives a rename.
    key_field = st.schema["key"].dataType.names[0]
    val_field = st.schema["value"].dataType.names[0]
    return st.select(
        F.col(f"key.{key_field}").alias("user_id"),
        F.col(f"value.{val_field}").cast("bigint").alias("cnt"),
    ).orderBy("user_id")


_MHF_NH = 64


def _mhf_oracle() -> str:
    from takuan_zoo.operators.hashing import MERSENNE31, affine_params
    from takuan_zoo.operators.hashing import sql_md5_int as _md5

    ab_rows = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(affine_params(_MHF_NH))
    )
    return f"""
    WITH toks AS (
        SELECT source, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks,
             UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    ab(i, a, b) AS (SELECT * FROM (VALUES {ab_rows}) v(i, a, b)),
    hs AS (
        SELECT source, ab.i AS i,
               MIN((ab.a * {_md5('shingle')} + ab.b) % {MERSENNE31}) AS mh
        FROM sh CROSS JOIN ab
        GROUP BY source, ab.i
    )
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                 / {_MHF_NH}.0, 6) AS est_jaccard
    FROM hs a JOIN hs b ON a.i = b.i AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query(
    "q_stream_minhash_fold",
    _mhf_oracle(),
    "Streaming MinHash signature maintainer, driver-checked: documents "
    "are split into 4 epochs, each epoch's signature partials (the "
    "REAL fold_signature_partials the sink runs — groups x 64 ints, "
    "never shingle-scale) land in their own dynamically-overwritten "
    "partition, and the REAL merged_signatures fold takes the element-"
    "wise MIN, completing the maintainer family's merge-algebra "
    "taxonomy (sum, max, set-union, interval-union, grid-sum, min). "
    "The 4-epoch state is BACKFILLED in one job: the corpus is "
    "shingle-hashed exactly once and one (epoch, source)-grouped "
    "aggregation emits every epoch's partials (identical rows to "
    "per-epoch re-shingling — min never crosses group boundaries; "
    "pytest-proved) into one partitioned write, the at-scale shape "
    "for bootstrapping maintainer state from history (the incremental "
    "sink path is stream-tested in tests/test_minhash_stream.py). The "
    "returned pairwise source Jaccard estimates derive from merged "
    "signatures alone; the oracle recomputes global signatures from "
    "all shingles with the same md5+affine family — green proves "
    "min-merge reconstructs the exact global signature.",
)
def q_stream_minhash_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.streaming.minhash_stream import (
        fold_signature_partials,
        merged_signatures,
        shingle_hashes,
        signature_pair_similarity,
    )

    table = _scratch(sf_dir, "minhash_sig")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "_epoch", F.pmod(F.col("doc_id"), F.lit(_N_EPOCHS))
    )
    # ONE shingle+md5 pass, ONE grouped aggregation over (epoch,
    # source), ONE partitioned write — the epoch-partition layout (and
    # every row in it) is exactly what _N_EPOCHS incremental sink
    # batches would have produced.
    (
        fold_signature_partials(
            shingle_hashes(docs, group_col="source", extra_cols=("_epoch",)),
            group_col="source",
            num_hashes=_MHF_NH,
            extra_group_cols=("_epoch",),
        )
        .withColumnRenamed("_epoch", "epoch")
        .write.mode("overwrite")
        .partitionBy("epoch")
        .parquet(table)
    )
    sigs = merged_signatures(spark, table, group_col="source")
    return (
        signature_pair_similarity(
            sigs, group_col="source", num_hashes=_MHF_NH
        )
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "est_jaccard",
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "q_stream_complete_mode",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY user_id
    ORDER BY cnt DESC, user_id
    LIMIT 5
    """,
    "COMPLETE output mode under the real engine — the third and last "
    "output contract (append: nine rows r7-r9; update: two rows r10). "
    "Complete mode is the ONLY mode in which streaming sort + limit "
    "is legal (tests/test_stateful.py pins the AnalysisException in "
    "update mode), so it is the streaming tier of the reference's "
    "published top-5 report (core/twitter.go:44-95, "
    "core/reporter.go:176-211): a per-user running count sorted "
    "descending and limited to 5, re-emitted IN FULL every "
    "micro-batch into a snapshot-replace parquet sink (the "
    "dashboard-table overwrite shape). Each batch's snapshot is "
    "retained under batch=<id> and the query asserts the contract "
    "from the sink's own files: >= 2 snapshots landed, every "
    "snapshot holds exactly 5 rows (the limit, not a partial "
    "result), and at least one adjacent snapshot PAIR differs — the "
    "full-result re-emission that separates complete from append. "
    "The returned final snapshot must hash-match the batch top-5 "
    "oracle. At 100 TB the running-count state shuffles across "
    "executors exactly as any streaming aggregation; only the "
    "5-row sorted limit converges per batch, so sink traffic is "
    "O(k x batches) and never row data.",
)
def q_stream_complete_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch(sf_dir, "complete_mode")
    src, stage, ckpt = f"{base}/src", f"{base}/stage", f"{base}/ckpt"
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).head()
    t0 = 1_600_000_000.0
    _write_epoch_files_one_job(
        base, src, ev, time_col="ts", lo=lo, hi=hi, n_epochs=_N_EPOCHS, t0=t0
    )
    # no watermark and no sentinels: complete mode re-emits the whole
    # result table every batch — nothing waits on event time.
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    top5 = (
        stream.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(5)
    )

    def _snapshot(batch: DataFrame, epoch_id: int) -> None:
        # snapshot-replace: the batch IS the full current answer; keep
        # every batch's snapshot so the re-emission contract is
        # checkable from the sink alone (overwrite of one live dir
        # would destroy the evidence the assertion needs)
        batch.write.mode("overwrite").parquet(
            os.path.join(stage, f"batch={epoch_id}")
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            top5.writeStream.foreachBatch(_snapshot)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_die(q, 600)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    batch_ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(stage)
        if d.startswith("batch=")
    )
    if len(batch_ids) < 2:
        raise RuntimeError(
            f"only {len(batch_ids)} snapshot(s) landed; complete mode's "
            f"per-batch full re-emission was never exercised"
        )
    # 5-row snapshots: dim-sized by the LIMIT (same class as the
    # published top-5 report), so driver-side comparison is bounded
    # by k x batches, never by events.
    snaps = {
        b: sorted(
            (int(r.user_id), int(r.cnt))
            for r in spark.read.parquet(
                os.path.join(stage, f"batch={b}")
            ).collect()
        )
        for b in batch_ids
    }
    short = {b: len(s) for b, s in snaps.items() if len(s) != 5}
    if short:
        raise RuntimeError(
            f"snapshots with row count != 5: {short}; a complete-mode "
            f"batch must carry the entire (limited) result table"
        )
    if all(
        snaps[a] == snaps[b] for a, b in zip(batch_ids, batch_ids[1:])
    ):
        raise RuntimeError(
            "every adjacent snapshot pair is identical; the top-5 "
            "never revised across batches, so the complete-mode "
            "re-emission contract was vacuous"
        )
    final = snaps[batch_ids[-1]]
    return spark.createDataFrame(
        final, "user_id bigint, cnt bigint"
    ).orderBy(F.col("cnt").desc(), "user_id")


@query(
    "q_tail_source_counts",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "The CUSTOM Python DataSource (Spark 4) under the driver's hash "
    "gate — sources/tail_source.py is the reference sensor's exact "
    "shape (core/sensor.go:42-123: ONE live log file, byte offsets, "
    "complete lines only) and until this row carried pytest-only "
    "evidence. Every event is rendered to a log line "
    "('<event_id> <event_type>'), HALF the lines are written first, "
    "the stream starts on the filetail source and drains, the other "
    "half is byte-appended to the SAME file while the query object "
    "is live, and a second drain must deliver them — the row asserts "
    "from the per-batch sink that post-append lines landed in a "
    "LATER micro-batch than the first drain's high-water mark (the "
    "live-tail contract, not a one-shot file read) and that exactly "
    "one row arrived per event (no loss, no replay, no partial "
    "line). Lines parse back to columns in the stream and the batch "
    "GROUP BY over the sink must hash-match the events oracle. "
    "Scale note: a log tail is inherently a single-file, "
    "single-reader operator (the SimpleDataSourceStreamReader "
    "prefetches on the driver by design — the reference's sensor is "
    "the same shape); fan-out happens across MANY sensor files, "
    "each its own cheap source, unioned — the repo's multi-sensor "
    "union (O30) is that composition.",
)
def q_tail_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    from takuan_spark.sources.tail_source import register_filetail

    base = _scratch(sf_dir, "tail_source")
    os.makedirs(base)
    log, sink, ckpt = f"{base}/app.log", f"{base}/sink", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")

    # ONE Spark job renders both halves (a single partitioned text
    # write from one task: each _half directory holds exactly one part
    # file) and n_total is a driver-side line count of the written
    # files — replaces the count job plus two filtered half-writes.
    # File CONTENT and the half-split rule (event_id parity) unchanged.
    tmp = f"{base}/_txt"
    (
        ev.select(
            F.concat_ws(" ", F.col("event_id"), F.col("event_type")).alias(
                "value"
            ),
            F.pmod("event_id", F.lit(2)).alias("_half"),
        )
        .repartition(1)
        .write.partitionBy("_half")
        .mode("overwrite")
        .text(tmp)
    )
    n_total = 0
    rendered = []
    for half in (0, 1):
        parts = _glob.glob(os.path.join(tmp, f"_half={half}", "part-*"))
        assert len(parts) == 1, f"half {half}: {len(parts)} part files"
        with open(parts[0], "rb") as fh:
            n_total += sum(1 for _ in fh)
        rendered.append(parts[0])
    first, second = rendered
    shutil.copyfile(first, log)

    register_filetail(spark)
    parsed = (
        spark.readStream.format("filetail")
        .option("path", log)
        .load()
        .select(
            F.split(F.col("value"), " ").getItem(0).cast("bigint")
                .alias("event_id"),
            F.split(F.col("value"), " ").getItem(1).alias("event_type"),
        )
    )

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch={epoch_id}")
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    # start() lives INSIDE the try: if source registration or the
    # checkpoint dir make it throw, the finally still restores the
    # session's shuffle-partition conf (same shape as
    # q_stream_complete_mode).
    q = None
    try:
        q = (
            parsed.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        out = spark.read.option("basePath", sink).parquet(sink)
        b1 = out.agg(F.max("batch")).head()[0]
        # the live append: raw byte concatenation onto the SAME file
        # the running query is tailing (driver-side file op, no row
        # data — the log writer's own shape)
        with open(log, "ab") as dst, open(second, "rb") as src:
            shutil.copyfileobj(src, dst)
        q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    out = spark.read.option("basePath", sink).parquet(sink)
    late = out.where(F.col("batch") > b1).count()
    if late == 0:
        raise RuntimeError(
            "no rows arrived after the first drain; the live-tail "
            "append contract was never exercised"
        )
    got = out.count()
    if got != n_total:
        raise RuntimeError(
            f"tail delivered {got} rows for {n_total} events; the "
            f"exactly-once line contract broke"
        )
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


@query(
    "q_stream_multi_sensor",
    """
    SELECT CASE WHEN event_type IN ('error', 'signup') THEN 'ssh'
                ELSE 'http' END AS sensor,
           event_type AS rule,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "The streaming multi-sensor union (O30) under the driver hash "
    "gate: TWO LIVE filetail sources — an sshd-shaped and an "
    "access-log-shaped sensor, each its own single live log FILE "
    "with its own regex parser, rules, and datetime layout — "
    "unioned by streaming/pipeline.py compile_stream into ONE "
    "events stream, the reference's concurrent-sensors-into-one-bus "
    "shape (core/aggregator.go:211-217) and the documented fan-out "
    "answer to the single-reader tail (one cheap source per file, "
    "union above). Until this row the streaming form of O30 was "
    "pytest-only (tests/test_streaming); the batch union is "
    "compile_batch's. Every event renders deterministically into "
    "exactly one sensor's log (error/signup -> ssh syslog line with "
    "a YEARLESS datetime, exercising the O7 year-injection repair "
    "in-stream; click/view/purchase -> CLF-style http line whose "
    "layout carries the year, the no-injection path — both datetime "
    "modes live in one query). Arrival protocol: half of each "
    "sensor's lines are written before the stream starts, the other "
    "half is byte-appended to BOTH live files while the query runs "
    "(the live-tail contract), and the per-batch sink records epoch "
    "ids. In-row guards: some single micro-batch epoch carries rows "
    "from BOTH sensors (the union actually multiplexes, not "
    "round-robins), post-append rows land in later epochs on BOTH "
    "sensors (both tails are live), per-sensor totals are exact "
    "(no loss, no replay across the append), and zero quarantine "
    "rows (every line parsed). The result GROUP BY (sensor, rule) "
    "hash-checks the full route: tail -> per-sensor tokenize -> "
    "first-match-wins rules -> datetime -> unionByName. At 100 "
    "TB/day the shape is N sensors x one cheap driver-side tail "
    "each, unioned into one partitioned stream — per-sensor "
    "parallelism comes from MORE sensors, per-event parallelism "
    "from the post-union exchange, exactly the reference's "
    "goroutine-per-sensor model with Spark owning the bus.",
)
def q_stream_multi_sensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    from takuan_spark.config import config_from_dict
    from takuan_spark.streaming.pipeline import compile_stream

    base = _scratch(sf_dir, "multi_sensor")
    os.makedirs(base)
    sink = f"{base}/sink"
    ckpt = f"{base}/ckpt"
    logs = {"ssh": f"{base}/auth.log", "http": f"{base}/access.log"}

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    addr = F.concat(
        F.lit("10.0."),
        (F.col("user_id") % 251).cast("string"),
        F.lit("."),
        (F.expr("user_id DIV 251") % 251).cast("string"),
    )
    ssh_line = F.concat(
        F.date_format("ts", "MMM d HH:mm:ss"),
        F.lit(" node sshd[12]: "),
        F.col("event_type"),
        F.lit(" uid "),
        F.col("user_id"),
        F.lit(" from "),
        addr,
    )
    http_line = F.concat(
        addr,
        F.lit(" - - ["),
        F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
        F.lit('] "GET /'),
        F.col("event_type"),
        F.lit("/"),
        F.col("user_id"),
        F.lit('"'),
    )
    is_ssh = F.col("event_type").isin("error", "signup")
    renders = {
        "ssh": ev.where(is_ssh).select(ssh_line.alias("value")),
        "http": ev.where(~is_ssh).select(http_line.alias("value")),
    }
    # ONE Spark job per sensor: label each line with its crc32 half and
    # write both half files in a single partitioned text write (a lone
    # task, so each _half directory holds exactly one part file); the
    # expected per-sensor totals are then a driver-side line count of
    # the written halves. Replaces the old materialize + count + two
    # filtered half-writes (4 jobs per sensor) — the halves' CONTENT
    # and the arrival protocol are unchanged, only the job count.
    halves: dict[str, list[str]] = {}
    expected: dict[str, int] = {}
    for s, df in renders.items():
        tmp = f"{base}/_txt_{s}"
        (
            df.withColumn("_half", F.pmod(F.crc32("value"), F.lit(2)))
            .repartition(1)
            .write.partitionBy("_half")
            .mode("overwrite")
            .text(tmp)
        )
        files, total = [], 0
        for half in (0, 1):
            parts = _glob.glob(os.path.join(tmp, f"_half={half}", "part-*"))
            if not parts:
                # a half with no lines writes no directory; the old
                # per-half write produced an empty file — mirror it
                empty = os.path.join(tmp, f"_half={half}", "part-empty")
                os.makedirs(os.path.dirname(empty), exist_ok=True)
                open(empty, "wb").close()
                parts = [empty]
            assert len(parts) == 1, f"{s} half {half}: {len(parts)} files"
            with open(parts[0], "rb") as fh:
                total += sum(1 for _ in fh)
            files.append(parts[0])
        halves[s] = files
        expected[s] = total
    for s in logs:
        shutil.copyfile(halves[s][0], logs[s])

    conf = config_from_dict(
        {
            "name": "multi-node",
            "sensors": [
                {
                    "name": "ssh",
                    "filename": "-",
                    "parser": {
                        "expression": (
                            r"^(.+) node sshd\[\d+\]: (.+)"
                            r" from (\d+\.\d+\.\d+\.\d+)$"
                        ),
                        "datetime_format": "2006 Jan _2 15:04:05",
                        "tokens": {"datetime": 1, "message": 2, "address": 3},
                    },
                    "rules": [
                        {"name": "error", "token": "message",
                         "expression": "^error "},
                        {"name": "signup", "token": "message",
                         "expression": "^signup "},
                    ],
                },
                {
                    "name": "http",
                    "filename": "-",
                    "parser": {
                        "expression": (
                            r"^(\d+\.\d+\.\d+\.\d+) - - \[(.+)\]"
                            r" \"GET (/.+)\"$"
                        ),
                        "datetime_format": "02/Jan/2006:15:04:05",
                        "tokens": {"address": 1, "datetime": 2, "message": 3},
                    },
                    "rules": [
                        {"name": "click", "token": "message",
                         "expression": "^/click/"},
                        {"name": "view", "token": "message",
                         "expression": "^/view/"},
                        {"name": "purchase", "token": "message",
                         "expression": "^/purchase/"},
                    ],
                },
            ],
        },
        year=2024,
    )

    events = compile_stream(spark, conf, paths=logs, tail_files=True)

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        batch.select("sensor", "rule", "_parse_error").write.mode(
            "overwrite"
        ).parquet(os.path.join(sink, f"batch={epoch_id}"))

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = None
    try:
        q = (
            events.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        out = spark.read.option("basePath", sink).parquet(sink)
        b1 = out.agg(F.max("batch")).head()[0]
        # the live append: raw byte concatenation onto BOTH tailed
        # files while the query object is running
        for s in logs:
            with open(logs[s], "ab") as dst, open(halves[s][1], "rb") as src:
                shutil.copyfileobj(src, dst)
        q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    out = spark.read.option("basePath", sink).parquet(sink)
    bad = out.where(F.col("_parse_error")).count()
    if bad:
        raise RuntimeError(f"{bad} lines failed to parse; render broken")
    multiplexed = (
        out.groupBy("batch")
        .agg(F.countDistinct("sensor").alias("n_sensors"))
        .where(F.col("n_sensors") >= 2)
        .head()
    )
    if multiplexed is None:
        raise RuntimeError(
            "no micro-batch epoch carried rows from both sensors; the "
            "union under test never multiplexed"
        )
    per_sensor_late = {
        r["sensor"]: r["n"]
        for r in out.where(F.col("batch") > b1)
        .groupBy("sensor")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for s in logs:
        if per_sensor_late.get(s, 0) == 0:
            raise RuntimeError(
                f"no post-append rows arrived from sensor {s!r}; its "
                f"live-tail path was never exercised"
            )
    got = {
        r["sensor"]: r["n"]
        for r in out.groupBy("sensor").agg(F.count("*").alias("n")).collect()
    }
    if got != expected:
        raise RuntimeError(
            f"per-sensor totals {got} != rendered {expected}; the "
            f"exactly-once line contract broke"
        )
    return (
        out.groupBy("sensor", "rule")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select("sensor", F.col("rule"), "cnt")
        .orderBy("sensor", "rule")
    )
