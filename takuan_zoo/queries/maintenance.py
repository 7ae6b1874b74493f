"""Table-maintenance planner queries: compaction binning and zone-map
prune estimation (operators/maintenance.py).

These are the queries a 100 TB deployment runs BEFORE rewrite jobs:
the compaction planner turns a small-file manifest into an output-bin
manifest, and the prune estimator quantifies — from zone maps alone —
how much scan a candidate re-layout would save. The documents table
stands in for the file manifest (one row per file, n_chars as bytes)
and the events table for the row population being laid out; the
operators themselves take any frame with the right columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import maintenance
from takuan_zoo.operators.layout import sql_zorder_key2, zorder_key2
from takuan_zoo.queries import query


@query(
    "q_compaction_bins",
    """
    WITH binned AS (
        SELECT source,
               CAST(floor(
                   (SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_chars) / 4096.0
               ) AS BIGINT) AS bin,
               n_chars
        FROM documents
    )
    SELECT source, bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS bytes
    FROM binned GROUP BY source, bin ORDER BY source, bin
    """,
    "Small-file compaction planner: sequential running-sum packing of "
    "each partition's files into ~4 KiB output bins — the Delta "
    "OPTIMIZE / Iceberg rewrite_data_files bin-pack as ONE window over "
    "(partition, order). The window state is a running sum, so a "
    "100 M-file manifest plans in a single shuffle keyed by the "
    "table partition; no file list ever sits in one place.",
)
def q_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    files = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return maintenance.compaction_plan(
        files,
        size_col="n_chars",
        order_cols=["doc_id"],
        partition_cols=["source"],
        target_bytes=4096,
    ).orderBy("source", "bin")


_Z = sql_zorder_key2("a", "b", bits=8)


@query(
    "q_zonemap_prune_compare",
    f"""
    WITH dims AS (
        SELECT event_id,
               CAST(user_id % 256 AS BIGINT) AS a,
               CAST(least(greatest(floor(value / 2.0), 0), 255)
                    AS BIGINT) AS b
        FROM events
    ),
    keyed AS (SELECT event_id, a, b, {_Z} AS z FROM dims),
    nat AS (
        SELECT CAST(floor(event_id / 4096.0) AS BIGINT) AS f,
               MIN(b) AS b_min, MAX(b) AS b_max
        FROM keyed GROUP BY 1
    ),
    zod AS (
        SELECT CAST(floor(z / 256.0) AS BIGINT) AS f,
               MIN(b) AS b_min, MAX(b) AS b_max
        FROM keyed GROUP BY 1
    )
    SELECT 'natural' AS layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN b_max < 32 OR b_min > 47 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_prunable,
           ROUND(1.0 - SUM(CASE WHEN b_max < 32 OR b_min > 47
                                THEN 1 ELSE 0 END) / COUNT(*), 6)
               AS scan_fraction
    FROM nat
    UNION ALL
    SELECT 'zorder',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN b_max < 32 OR b_min > 47 THEN 1 ELSE 0 END)
                AS BIGINT),
           ROUND(1.0 - SUM(CASE WHEN b_max < 32 OR b_min > 47
                                THEN 1 ELSE 0 END) / COUNT(*), 6)
    FROM zod
    ORDER BY layout
    """,
    "Zone-map prune estimator: per-file min/max over the SAME rows "
    "under two layouts — natural insert order (key-range files by "
    "event_id) vs Z-order (key-range files by the Morton key) — then "
    "the file count a `b BETWEEN 32 AND 47` predicate can skip. "
    "Quantifies, from metadata-sized aggregates alone, the scan a "
    "re-layout buys BEFORE paying for the rewrite: natural files span "
    "all of b (scan fraction ~1.0), Z-order files confine b to a "
    "16-wide band (most files pruned). Two hash aggregates, no sort.",
)
def q_zonemap_prune_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dims = ev.select(
        "event_id",
        (F.col("user_id") % 256).cast("bigint").alias("a"),
        F.least(
            F.greatest(F.floor(F.col("value") / 2.0), F.lit(0)), F.lit(255)
        )
        .cast("bigint")
        .alias("b"),
    )
    keyed = dims.select(
        "event_id", "b", zorder_key2(F.col("a"), F.col("b"), bits=8).alias("z")
    )
    lo, hi = F.lit(32), F.lit(47)

    def estimate(file_col, layout: str) -> DataFrame:
        zm = maintenance.zonemap_stats(
            keyed.select(file_col.alias("f"), "b"),
            file_col="f",
            value_cols=["b"],
        )
        est = maintenance.prune_estimate(zm, col="b", lo=lo, hi=hi)
        return est.select(
            F.lit(layout).alias("layout"),
            "n_files",
            "n_prunable",
            "scan_fraction",
        )

    nat = estimate(F.floor(F.col("event_id") / 4096.0).cast("bigint"), "natural")
    zod = estimate(F.floor(F.col("z") / 256.0).cast("bigint"), "zorder")
    return nat.unionAll(zod).orderBy("layout")


@query(
    "ns_deletion_cascade",
    """
    WITH flagged AS (
        SELECT doc_id, text, doc_id % 37 = 0 AS del FROM documents
    ),
    toks AS (
        SELECT doc_id, del,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS t
        FROM flagged
    ),
    chunks AS (
        SELECT doc_id, del
        FROM toks,
             UNNEST(generate_series(1, greatest(len(t), 1), 48)) AS g(i)
        WHERE i <= len(t)
    ),
    fps AS (
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fp,
               MAX(CASE WHEN del THEN 0 ELSE 1 END) AS retained
        FROM flagged GROUP BY 1
    ),
    per AS (
        SELECT 'documents' AS artifact,
               CAST(COUNT(*) AS BIGINT) AS rows_before,
               CAST(SUM(CASE WHEN del THEN 0 ELSE 1 END) AS BIGINT)
                   AS rows_after
        FROM flagged
        UNION ALL
        SELECT 'chunks', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN del THEN 0 ELSE 1 END) AS BIGINT)
        FROM chunks
        UNION ALL
        SELECT 'fingerprints', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(retained) AS BIGINT)
        FROM fps
    )
    SELECT artifact, rows_before, rows_after,
           CAST(rows_before - rows_after AS BIGINT) AS rows_deleted
    FROM per ORDER BY artifact
    """,
    "Right-to-be-forgotten cascade audit: before/after counts for the "
    "corpus, its derived RAG chunks (anti-join delete), and the dedup "
    "fingerprint table — where a fingerprint survives iff any RETAINED "
    "doc still carries it (shared-content semantics: over-deleting "
    "breaks future dedup, under-deleting retains an ownerless hash). "
    "Delete set = doc_id % 37 = 0. All conditional aggregates; the "
    "only wide exchange is the fingerprint groupBy.",
)
def ns_deletion_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return maintenance.deletion_cascade(
        docs, F.col("doc_id") % 37 == 0
    )


_MV_SPLIT = "1997-01-01"


@query(
    "q_mv_incremental",
    """
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
               AS ym,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY ym, o_orderstatus
    ORDER BY ym, o_orderstatus
    """,
    "Incremental materialized-view maintenance: the monthly "
    "(ym, status) -> (count, revenue) rollup is kept as stored partial "
    "aggregates; a new data partition (orders >= 1997-01-01) is "
    "aggregated ALONE and merged into the stored view by re-summing "
    "the algebraic partials — the incremental-ETL identity "
    "merge(agg(old), agg(delta)) == agg(old UNION delta) that lets a "
    "100 TB rollup absorb a daily partition by scanning ONLY the "
    "delta. The oracle is the full recompute, so the driver "
    "hash-checks that identity end-to-end. Money sums are integer "
    "cents (floor(x*100+0.5)) — partial re-aggregation must be exact, "
    "and float partial sums would drift by merge order.",
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast(
        "int"
    ).alias("ym")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(ym, "o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("total_cents"),
        )

    stored = partial(orders.where(F.col("o_orderdate") < _MV_SPLIT))
    delta = partial(orders.where(F.col("o_orderdate") >= _MV_SPLIT))
    return (
        stored.unionByName(delta)
        .groupBy("ym", "o_orderstatus")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("ym", "o_orderstatus")
    )


_RP_LO, _RP_HI, _RP_BINS = 0.0, 600_000.0, 256
_RP_W = (_RP_HI - _RP_LO) / _RP_BINS
#: 7 interior split points -> 8 range partitions
_RP_QS = tuple(i / 8.0 for i in range(1, 8))


@query(
    "q_range_partition_balance",
    f"""
    WITH hist AS (
        SELECT CAST(least(greatest(floor((o_totalprice - {_RP_LO!r})
                                         / {_RP_W!r}), 0),
                          {_RP_BINS - 1}) AS INT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    cum AS (
        SELECT bin, c,
               CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS cum,
               CAST(SUM(c) OVER (ORDER BY bin) - c AS BIGINT) AS cum0,
               CAST(SUM(c) OVER () AS BIGINT) AS total
        FROM hist
    ),
    probes AS (SELECT CAST(unnest([{", ".join(repr(q) for q in _RP_QS)}])
                           AS DOUBLE) AS q),
    bounds AS (
        SELECT floor(({_RP_LO!r} + bin * {_RP_W!r}
                      + {_RP_W!r} * (q * total - cum0) / c) * 10000.0
                     + 0.5) / 10000.0 AS est
        FROM cum, probes
        WHERE q * total > cum0 AND q * total <= cum
    ),
    barr AS (SELECT list_sort(list(est)) AS bs FROM bounds),
    assigned AS (
        SELECT CAST(len(list_filter(bs, b -> o_totalprice >= b)) AS INT)
                   AS pid,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders, barr WHERE o_totalprice IS NOT NULL
    )
    SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
               AS share_ppm
    FROM assigned GROUP BY pid ORDER BY pid
    """,
    "Range-partitioner planning from the mergeable histogram sketch: "
    "derive the 7 split points a repartitionByRange(8) over "
    "o_totalprice SHOULD use from the 256-bin sketch (no global sort, "
    "no sampling pass — the sketch merges across shards), assign every "
    "row to its range partition via a broadcast boundary array + "
    "higher-order filter (pure codegen, no row expansion), and report "
    "per-partition row counts, value bounds, and integer-ppm share — "
    "the balance audit that tells you whether a layout's partitions "
    "will skew BEFORE paying for the rewrite. Boundary comparisons "
    "and shares are engine-exact (4dp boundaries, integer cents, "
    "integer ppm division).",
)
def q_range_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators import sketches

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    hist = sketches.histogram_sketch(
        orders,
        group_cols=[],
        value_col="o_totalprice",
        lo=_RP_LO,
        hi=_RP_HI,
        bins=_RP_BINS,
    )
    bounds = sketches.histogram_quantiles(
        hist, group_cols=[], lo=_RP_LO, hi=_RP_HI, bins=_RP_BINS, qs=_RP_QS
    )
    barr = bounds.agg(F.array_sort(F.collect_list("est")).alias("bs"))
    assigned = orders.crossJoin(F.broadcast(barr)).select(
        F.size(
            F.filter("bs", lambda b: F.col("o_totalprice") >= b)
        )
        .cast("int")
        .alias("pid"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    per = assigned.groupBy("pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
    )
    return per.select(
        "pid",
        "n_rows",
        "lo_cents",
        "hi_cents",
        F.expr("CAST(n_rows * 1000000 div SUM(n_rows) OVER () AS BIGINT)")
        .alias("share_ppm"),
    ).orderBy("pid")


@query(
    "q_backfill_overwrite",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY CAST(ts AS DATE)
    ORDER BY day
    """,
    "DYNAMIC PARTITION OVERWRITE as first-class semantics — the "
    "idempotent daily-backfill shape every partitioned 100 TB table "
    "depends on. The streaming maintainers USE the mechanism for "
    "exactly-once epoch replacement; this row certifies the contract "
    "itself: a day-partitioned copy of events is written with ONE "
    "day corrupted (half its rows dropped), the corrected day is "
    "backfilled with mode=overwrite + partitionOverwriteMode=dynamic, "
    "and the row asserts from the FILESYSTEM that (a) every other "
    "partition's files are byte-for-byte untouched (path+size+mtime "
    "snapshot), (b) the target partition was REPLACED, not appended "
    "to, and (c) the repair actually changed the day's aggregate "
    "(non-vacuity). Green against the pristine GROUP BY oracle "
    "proves replace-only-what-you-wrote end-to-end. pytest pins the "
    "contrast: STATIC overwrite mode with the same writer clobbers "
    "every other partition — the bug class dynamic mode exists to "
    "prevent. At scale the backfill job's write amplification is "
    "O(revised partitions), never O(table), and re-running it is a "
    "no-op by content.",
)
def q_backfill_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from takuan_zoo.scratch import scratch_path

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    table = scratch_path(f"takuan_backfill_overwrite_{tag}")
    shutil.rmtree(table, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        "event_id",
        "value",
    )
    target = ev.agg(F.min("day")).head()[0]
    # v1: the target day lands with half its rows missing (the
    # corrupted ingest a nightly correction exists to repair)
    v1 = ev.where(
        (F.col("day") != target) | (F.pmod("event_id", F.lit(2)) == 0)
    )
    v1.repartition("day").write.partitionBy("day").parquet(table)

    def _file_stats(skip_day: str) -> dict[str, tuple[int, int]]:
        stats = {}
        for root, _dirs, files in os.walk(table):
            if f"day={skip_day}" in root:
                continue
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(root, f)
                st = os.stat(p)
                stats[os.path.relpath(p, table)] = (st.st_size, st.st_mtime_ns)
        return stats

    def _target_files() -> set[str]:
        d = os.path.join(table, f"day={target}")
        return {
            f for f in os.listdir(d) if f.endswith(".parquet")
        } if os.path.isdir(d) else set()

    before_others = _file_stats(target)
    before_target = _target_files()
    corrupted_cnt = (
        spark.read.parquet(table).where(F.col("day") == target).count()
    )
    # the backfill: corrected rows for the ONE day, dynamic overwrite
    (
        ev.where(F.col("day") == target)
        .repartition("day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(table)
    )
    after_others = _file_stats(target)
    if before_others != after_others:
        raise RuntimeError(
            "untouched partitions changed under dynamic overwrite: "
            f"{set(before_others) ^ set(after_others) or 'size/mtime drift'}"
        )
    if len(before_others) == 0:
        raise RuntimeError(
            "no other partitions existed; the untouched-partition "
            "assertion was vacuous"
        )
    after_target = _target_files()
    if before_target & after_target:
        raise RuntimeError(
            "target partition kept pre-backfill files; overwrite "
            "appended instead of replacing"
        )
    repaired = spark.read.parquet(table).where(F.col("day") == target)
    repaired_cnt = repaired.count()
    if repaired_cnt <= corrupted_cnt:
        raise RuntimeError(
            f"backfill did not change the target day "
            f"({corrupted_cnt} -> {repaired_cnt}); the repair was vacuous"
        )
    return (
        spark.read.parquet(table)
        # partition-column type inference reads day= back as a DATE;
        # normalize to the oracle's string grain
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        .groupBy("day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day")
    )


@query(
    "q_bucketed_join",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "TABLE BUCKETING as a co-located join — the layout feature that "
    "removes the fact-to-fact shuffle at 100 TB (broadcast handles "
    "small dims; bucketing is the answer when BOTH sides are big). "
    "orders and lineitem are persisted as bucketed tables "
    "(bucketBy(8, orderkey) + sortBy + saveAsTable, external path), "
    "the broadcast threshold is forced off, and the executed plan is "
    "pinned INSIDE the builder: the bucketed join must run as a "
    "SortMergeJoin whose scans carry the bucket marker "
    "(SelectedBucketsCount) with EXACTLY two fewer Exchanges than "
    "the identical unbucketed join built in the same session (the "
    "two join-side hash repartitions are what bucketing pre-pays at "
    "write time) — any regression raises instead of silently "
    "shuffling. The result is collected under the pinned plan "
    "(priority-domain-sized) and hash-matched to the plain join "
    "oracle. At scale: bucket count is chosen once per table, the "
    "nightly co-bucketed join never exchanges either fact side, and "
    "the write-side cost is one clustered shuffle per load — "
    "amortized across every downstream join.",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from takuan_zoo.scratch import scratch_path

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = scratch_path(f"takuan_bucketed_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    t_o, t_l = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    spark.sql(f"DROP TABLE IF EXISTS {t_o}")
    spark.sql(f"DROP TABLE IF EXISTS {t_l}")
    (
        o.write.mode("overwrite")
        .option("path", os.path.join(base, "o"))
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(t_o)
    )
    (
        li.write.mode("overwrite")
        .option("path", os.path.join(base, "l"))
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(t_l)
    )

    def _agg(odf: DataFrame, ldf: DataFrame) -> DataFrame:
        return (
            odf.join(ldf, odf["o_orderkey"] == ldf["l_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("revenue"),
            )
            .orderBy("o_orderpriority")
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = _agg(spark.table(t_o), spark.table(t_l))
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        plain = _agg(o, li)._jdf.queryExecution().executedPlan().toString()
        n_b, n_p = plan.count("Exchange"), plain.count("Exchange")
        if "SortMergeJoin" not in plan:
            raise RuntimeError("bucketed join did not plan as SortMergeJoin")
        if "SelectedBucketsCount" not in plan:
            raise RuntimeError(
                "bucketed scans lost the bucket marker; the reader is "
                "not exploiting the layout"
            )
        if n_b != n_p - 2:
            raise RuntimeError(
                f"bucketing removed {n_p - n_b} Exchanges, expected 2 "
                f"(bucketed={n_b}, unbucketed={n_p}); a join side is "
                f"shuffling despite the layout"
            )
        # collect under the pinned plan (the priority domain is 5
        # values — dim-sized) so the asserted no-shuffle execution is
        # the one that produced the returned rows, independent of the
        # restored broadcast threshold.
        rows = [tuple(r) for r in bucketed.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # keep the catalog clean between runs: the builder re-derives
        # both tables on every entry, so persistent entries pointing at
        # tmp paths (which the OS may reap) would only confuse a later
        # session sharing the metastore — and the fixed names would
        # collide across concurrent sessions on the same sf_dir.
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_orderpriority string, n_items bigint, revenue double"
    ).orderBy("o_orderpriority")
