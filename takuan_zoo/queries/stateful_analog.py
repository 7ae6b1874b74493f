"""Batch analogs of the stateful streaming operators, registered so the
arbitrary-stateful family (streaming/stateful.py detector,
streaming/profiles.py profiles) gains driver-checkable oracle rows.

Both streaming operators compute per-key state whose *final* value is a
plain SQL aggregate/window over the same data — that equivalence is the
point: the streaming form is the incremental evaluation of exactly this
query, so hash-matching the batch form against the oracle pins the
semantics the state machine must converge to (tests/test_stateful.py
additionally cross-checks the streaming detector's emitted alerts
against `brute_force_alerts_batch` on the same input).

Mapping onto the driver's events table: ``user_id`` plays the attacker
address, ``event_type`` plays the matched rule, ``event_type='error'``
plays the auth-failure stream (ref semantics: core/reporter.go per-
address counters; the detector is the real-time extension SURVEY §2.1
calls for).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.tables import load_table
from takuan_zoo.queries import query
from takuan_zoo.streaming.stateful import brute_force_alerts_batch

#: Detector tuning for the 30-day synthetic corpus: per-user 'error'
#: events are ~45 min apart on average, so a 1-hour window with
#: threshold 2 yields a small-but-nonempty alert set at every SF.
_WINDOW_SECS = 3600
_THRESHOLD = 2

_SEC = (
    "date_diff('second', TIMESTAMP '1970-01-01', date_trunc('second', ts))"
)


@query(
    "q_stateful_alerts",
    f"""
    WITH errs AS (
        SELECT user_id AS address, {_SEC} AS sec
        FROM events WHERE event_type = 'error'
    ),
    windowed AS (
        SELECT address,
               sec AS window_end_sec,
               CAST(COUNT(*) OVER win AS BIGINT) AS n_events,
               MIN(sec) OVER win AS window_start_sec
        FROM errs
        WINDOW win AS (PARTITION BY address ORDER BY sec
                       RANGE BETWEEN {_WINDOW_SECS - 1} PRECEDING
                             AND CURRENT ROW)
    )
    SELECT address, n_events, window_start_sec, window_end_sec
    FROM windowed WHERE n_events >= {_THRESHOLD}
    """,
    "Batch analog of the applyInPandasWithState brute-force detector "
    "(streaming/stateful.py:brute_force_alerts, cooldown disabled): "
    "alert rows where a user's trailing 1-hour 'error' count reaches "
    "2, via a per-address RANGE-frame window — the SQL fixpoint the "
    "per-key state machine evaluates incrementally.",
)
def q_stateful_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "error"
    )
    return brute_force_alerts_batch(
        ev,
        address_col="user_id",
        time_col="ts",
        threshold=_THRESHOLD,
        window_secs=_WINDOW_SECS,
    )


@query(
    "q_stateful_profile",
    f"""
    WITH inner_counts AS (
        SELECT user_id, event_type, COUNT(*) AS cnt,
               MIN({_SEC}) AS f, MAX({_SEC}) AS l
        FROM events
        GROUP BY user_id, event_type
    )
    SELECT
        user_id AS address,
        CAST(SUM(cnt) AS BIGINT) AS n_events,
        MIN(f) AS first_seen,
        MAX(l) AS last_seen,
        string_agg(event_type || ':' || CAST(cnt AS VARCHAR), '|'
                   ORDER BY event_type || ':' || CAST(cnt AS VARCHAR))
            AS counters
    FROM inner_counts
    GROUP BY user_id
    """,
    "Batch analog of the transformWithState per-address rolling "
    "profile (streaming/profiles.py PROFILE_SCHEMA): the final "
    "snapshot per address — total count, first/last seen epoch secs, "
    "sorted rule:count counters — as the two-level aggregate the "
    "ValueState+MapState pair accumulates incrementally.",
)
def q_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    sec = F.timestamp_diff("SECOND", epoch, F.date_trunc("second", "ts"))
    inner = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt"),
        F.min(sec).alias("f"),
        F.max(sec).alias("l"),
    )
    segment = F.concat_ws(":", F.col("event_type"), F.col("cnt"))
    return inner.groupBy("user_id").agg(
        F.sum("cnt").alias("n_events"),
        F.min("f").alias("first_seen"),
        F.max("l").alias("last_seen"),
        F.concat_ws("|", F.sort_array(F.collect_list(segment))).alias(
            "counters"
        ),
    ).withColumnRenamed("user_id", "address")
