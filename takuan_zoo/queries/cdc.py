"""CDC / event-hygiene queries over the events changelog.

The events table plays a Debezium-style changelog: user_id is the
entity key, (ts, event_id) the deterministic replay order, event_type
the operation hint (signup = insert, error = delete tombstone, others
= update). Operators in operators/cdc.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.operators import cdc
from takuan_zoo.queries import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@query(
    "q_cdc_latest",
    """
    WITH ranked AS (
        SELECT user_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events
    )
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           value AS last_value, CAST(n AS BIGINT) AS n_changes
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    "Last-writer-wins changelog compaction (the MERGE INTO read side): "
    "current state per entity via ONE hash aggregate — max over a "
    "(ts, id, values) struct with map-side partials — not a "
    "rank-and-filter window, so a 100 TB changelog shuffles one struct "
    "per key per partition instead of every change row.",
)
def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap = cdc.latest_snapshot(
        _events(spark, sf_dir),
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        value_cols=["event_type", "value"],
    )
    return snap.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        "n_changes",
    ).orderBy("user_id")


@query(
    "q_cdc_merge",
    """
    WITH tagged AS (
        SELECT user_id, ts, value,
               CASE WHEN event_type = 'signup' THEN 'I'
                    WHEN event_type = 'error' THEN 'D'
                    ELSE 'U' END AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    tomb AS (
        SELECT *, MAX(CASE WHEN op = 'D' THEN rn ELSE 0 END)
                      OVER (PARTITION BY user_id) AS tombstone
        FROM tagged
    ),
    live AS (SELECT * FROM tomb WHERE rn > tombstone AND op <> 'D'),
    fin AS (
        SELECT user_id, ts, op, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY rn DESC) AS rd,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM live
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_live_ops, ts AS last_ts,
           op AS last_op, value AS last_value
    FROM fin WHERE rd = 1
    ORDER BY user_id
    """,
    "Full I/U/D changelog replay to the surviving snapshot: a user's "
    "last delete tombstones earlier history; only entities with "
    "activity after their last tombstone appear, with the "
    "post-tombstone op count and final state. One window rank + one "
    "per-key max on the SAME partitioning (no second exchange) — the "
    "deterministic batch form of MERGE with delete semantics.",
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    return cdc.merge_snapshot(
        ev,
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        op_col=op,
        value_col="value",
    ).orderBy("user_id")


@query(
    "q_event_dedup_window",
    """
    WITH g AS (
        SELECT event_type, user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 600 * 1000000
                    THEN 1 ELSE 0 END AS bs
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)
    ),
    b AS (
        SELECT event_type, user_id, ts, event_id,
               SUM(bs) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS burst
        FROM g
    ),
    r AS (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type, burst
                                  ORDER BY ts, event_id) AS rn
        FROM b
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup
    FROM r GROUP BY event_type
    ORDER BY event_type
    """,
    "At-least-once delivery repair: same (user, type) events separated "
    "by <= 10 min chain into one burst, first delivery survives — "
    "session-burst dedup with integer-microsecond gap math (double "
    "seconds have 1e-7 ulp at current epochs; a boundary gap could "
    "flip per engine). One shuffle on the dedup key, three stacked "
    "window passes on the same partitioning.",
)
def q_event_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = cdc.dedup_within_window(
        _events(spark, sf_dir),
        key_cols=["user_id", "event_type"],
        ts_col="ts",
        id_col="event_id",
        window_secs=600,
    )
    return (
        tagged.groupBy("event_type")
        .agg(
            F.sum((~F.col("_dup")).cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.col("_dup").cast("int")).cast("bigint").alias("n_dup"),
        )
        .orderBy("event_type")
    )


@query(
    "q_touch_attribution",
    """
    WITH ev AS (
        SELECT * FROM events
        WHERE event_type IN ('purchase', 'click', 'view')
    ),
    t AS (
        SELECT event_type, value, ts,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER w AS lt_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN ts END IGNORE NULLS)
                   OVER w AS lt_ts
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    conv AS (
        SELECT CASE WHEN lt_ts IS NOT NULL
                         AND epoch_us(ts) - epoch_us(lt_ts)
                             <= 7 * 86400 * 1000000::BIGINT
                    THEN lt_type ELSE 'organic' END AS touch_type,
               value
        FROM t WHERE event_type = 'purchase'
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(value), 2) AS attributed_value
    FROM conv GROUP BY touch_type
    ORDER BY touch_type
    """,
    "Last-touch attribution: each purchase credits the most recent "
    "preceding click/view of the same user within 7 days, else "
    "'organic'. One exchange on the user key, then an IGNORE NULLS "
    "running last over the ordered partition — no self-join of "
    "conversions against touches (the naive quadratic form).",
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(
        F.col("event_type").isin("purchase", "click", "view")
    )
    att = cdc.last_touch(
        ev,
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        is_conversion=F.col("event_type") == "purchase",
        touch_col="event_type",
        horizon_secs=7 * 86400,
    )
    return (
        att.groupBy(
            F.coalesce(F.col("touch_type"), F.lit("organic")).alias(
                "touch_type"
            )
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("touch_type")
    )
