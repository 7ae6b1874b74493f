"""Report queries (SURVEY.md §2 O16-O27, §3.3).

The reference's hourly report job is, semantically, two aggregate queries
over the unreported slice of the events table:

1. per-address report (ref: core/reporter.go:97-173): group by address →
   total count, first country, and a ``sensor/rule:count`` counters string —
   sorted descending by count, written to CSV.
2. per-country top-k (ref: core/twitter.go:44-95): group by country →
   count desc → limit 5.

Determinism: the reference builds the counters string from a Go map whose
iteration order is random (core/reporter.go:148-161). We define the engine
semantics as *sorted* segments (`sort_array` before `concat_ws`), and all
orderings get stable tiebreak keys — required for oracle hashing and the
right call for any engine.

Scale notes: every Spark-side report is a two-level hash aggregation.
The inner level groups by (address, sensor, rule, country) with partial
(map-side) aggregation before its shuffle, so at 100 TB that shuffle
carries one row per key, not one per event. The per-address level then shuffles
again on ``address`` (a second hash exchange: the inner exchange is
partitioned on the whole key, not on its ``address`` prefix). No
driver-side state; the only ``limit`` is the final top-k, which Spark
plans as TakeOrderedAndProject (per-partition heap + merge).

Counts are linear, so the per-address level does not care where its
counts came from. Over stored history, :func:`report_from_counts` is the
one Spark-side per-address fold, fed by :func:`address_report` (a
``count()`` over events) and by ``streaming.report_stream.merged_report``
(a ``sum`` over the per-epoch :func:`partial_report` rows). The service's
per-epoch report runs no Spark job: it takes the epoch's events as the
Arrow table ``streaming.pipeline.split_sink`` collected for every sink,
builds the same per-key partial there with :func:`epoch_partial`, and
folds it in Arrow's kernels with :func:`fold_partial`; the fold returns
the same rows in the same order as :func:`address_report` and
:func:`country_topk` would over that epoch. The driver holds the epoch
and its partial, one row per distinct attack key of the epoch; a
catch-up run reads at most ``streaming.pipeline.MAX_EPOCH_BYTES`` per
sensor directory per epoch, which bounds both.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

#: the inner grouping key of every report; country is constant per
#: address (one geo row per IP), so carrying it through the key is free
REPORT_KEYS = ("address", "sensor", "rule", "country_code", "country_name")

#: the address report's columns, in the reference's CSV header order
#: (core/reporter.go:136-144)
REPORT_COLUMNS = ["address", "country_code", "country_name", "total_events", "counters"]


def unreported(events: DataFrame) -> DataFrame:
    """The unreported slice: ``WHERE reported_at IS NULL`` (O16,
    ref: core/aggregator.go:94)."""
    return events.where(F.col("reported_at").isNull())


def _segment(count_col: str):
    """One counters segment, ``sensor/rule:count`` (NULL parts skipped,
    as ``concat_ws`` skips them)."""
    return F.concat_ws(
        ":", F.concat_ws("/", "sensor", "rule"), F.col(count_col).cast("string")
    )


def report_from_counts(counts: DataFrame) -> DataFrame:
    """The per-address fold (O18-O23) over ``REPORT_KEYS`` rows with a
    ``cnt`` column (and optional ``first_seen`` / ``last_seen``).

    Output: ``address, country_code, country_name, total_events,
    counters[, first_seen, last_seen]`` sorted by total_events desc
    (stable tiebreak on address). ``counters`` is the reference's
    ``sensor/rule:count|...`` encoding with deterministic (sorted)
    segment order. Country is the per-address ``min``, matching the
    reference's ``addrEvents[0]`` (core/reporter.go:165-166) since it is
    constant per address.
    """
    segment = _segment("cnt")
    aggs = [
        F.min("country_code").alias("country_code"),
        F.min("country_name").alias("country_name"),
        F.sum("cnt").alias("total_events"),
        F.concat_ws("|", F.sort_array(F.collect_list(segment))).alias("counters"),
    ]
    if "first_seen" in counts.columns:
        aggs += [
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
        ]
    report = counts.groupBy("address").agg(*aggs)
    return report.orderBy(F.desc("total_events"), F.asc("address"))


def address_report(events: DataFrame, *, seen_col: str | None = None) -> DataFrame:
    """Per-address attack report over events: ``count()`` per
    ``REPORT_KEYS``, then :func:`report_from_counts`.

    ``seen_col`` (a timestamp column, e.g. ``created_at``) appends
    ``first_seen`` / ``last_seen`` per address — min/max fold through
    BOTH aggregation levels, so the extra fields ride the existing
    shuffle chain instead of a second scan + self-join of the fact
    (the composition cost that matters at 100 TB).
    """
    aggs = [F.count("*").alias("cnt")]
    if seen_col:
        aggs += [
            F.min(seen_col).alias("first_seen"),
            F.max(seen_col).alias("last_seen"),
        ]
    return report_from_counts(events.groupBy(*REPORT_KEYS).agg(*aggs))


def partial_report(batch: DataFrame) -> DataFrame:
    """Per-batch partials: ``REPORT_KEYS`` plus the count ``n``. Kept at
    the (sensor, rule) grain so summing ``n`` across batches and folding
    with :func:`report_from_counts` rebuilds the counters string exactly."""
    return batch.groupBy(*REPORT_KEYS).agg(F.count("*").alias("n"))


def epoch_partial(events: pa.Table) -> pa.Table:
    """Driver-side twin of :func:`partial_report` over an epoch's events
    held as an Arrow table: one row per ``REPORT_KEYS`` key with
    ``address``, the country columns, the key's ``sensor/rule:n``
    counters ``segment`` and its count ``n``, the input of
    :func:`fold_partial`. The segment is built as :func:`_segment` builds
    it: a NULL sensor or rule is skipped, as ``concat_ws`` skips it."""
    counts = events.group_by(list(REPORT_KEYS)).aggregate([([], "count_all")])
    sensor, rule, n = counts["sensor"], counts["rule"], counts["count_all"]
    # not null_handling="skip": pyarrow 16 drops rows whose inputs are
    # all NULL from its output instead of returning ""
    pair = pc.coalesce(pc.binary_join_element_wise(sensor, rule, "/"), sensor, rule, "")
    return pa.table({
        "address": counts["address"],
        "country_code": counts["country_code"],
        "country_name": counts["country_name"],
        "segment": pc.binary_join_element_wise(pair, pc.cast(n, pa.string()), ":"),
        "n": n,
    })


def fold_partial(partial: pa.Table) -> tuple[pa.Table, list[Row]]:
    """Driver-side twin of :func:`address_report` and :func:`country_topk`
    over one epoch's :func:`epoch_partial`.

    Returns ``(report, countries)``: the address report as a
    ``REPORT_COLUMNS`` table in :func:`report_from_counts`'s order
    (total_events desc, then address asc, NULL first), and every
    country's event count as rows in :func:`country_topk`'s order (count
    desc, then code asc, NULL first), so ``countries[:k]`` is its top-k
    and the counts sum to the epoch's total. All of it runs in Arrow's
    kernels, whose string order is byte order, as Spark's is; segments
    are sorted before grouping, and a single-threaded ``group_by`` keeps
    that order in each address's list, as ``sort_array`` does.
    """
    per_addr = (
        partial.sort_by([("address", "ascending"), ("segment", "ascending")],
                        null_placement="at_start")
        .group_by("address", use_threads=False)
        .aggregate([("country_code", "min"), ("country_name", "min"),
                    ("n", "sum"), ("segment", "list")])
    )
    report = pa.table([
        per_addr["address"],
        per_addr["country_code_min"],
        per_addr["country_name_min"],
        per_addr["n_sum"],
        pc.binary_join(per_addr["segment_list"], "|"),
    ], names=REPORT_COLUMNS).sort_by(
        [("total_events", "descending"), ("address", "ascending")],
        null_placement="at_start",
    )
    per_country = (
        partial.group_by("country_code").aggregate([("n", "sum")])
        .sort_by([("n_sum", "descending"), ("country_code", "ascending")],
                 null_placement="at_start")
    )
    country_row = Row("country_code", "total_events")
    countries = [
        country_row(code, n)
        for code, n in zip(per_country["country_code"].to_pylist(),
                           per_country["n_sum"].to_pylist())
    ]
    return report, countries


def country_topk(events: DataFrame, *, k: int = 5) -> DataFrame:
    """Per-country event counts, top-k (O26, ref: core/twitter.go:48-80).

    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject — a true
    distributed top-k, no global sort materialized. Tiebreak on the
    country code keeps the result deterministic (the reference's
    sort.Slice is not stable under ties).
    """
    counts = events.groupBy("country_code").agg(F.count("*").alias("total_events"))
    return counts.orderBy(F.desc("total_events"), F.asc("country_code")).limit(k)


def country_flag(code: str | None) -> str:
    """ISO-3166 alpha-2 code → emoji flag (O27, ref: core/twitter.go:88
    ``emoji.CountryFlag``): each letter maps to its regional-indicator
    symbol (U+1F1E6..U+1F1FF); no lookup table needed. Unknown/missing
    codes render as the white flag, matching the reference's fallback of
    not crashing on unmapped countries."""
    if (
        not code
        or len(code) != 2
        or not code.isascii()
        or not code.isalpha()
    ):
        # isascii() matters: a non-ASCII "letter" would otherwise map
        # outside the regional-indicator block (mojibake, not a flag)
        return "\U0001F3F3"  # white flag
    return "".join(chr(0x1F1E6 + ord(c) - ord("A")) for c in code.upper())


def format_country_summary(topk_rows: list, total: int) -> str:
    """Scalar formatting of the tweet text (O27, ref: core/twitter.go:
    69-90) — cosmetic, driver-side over the tiny top-k result."""
    parts = [
        f"{r['total_events']} from {country_flag(r[0])} {r[0] or 'unknown'}"
        for r in topk_rows
    ]
    plural = "s" if total != 1 else ""
    return f"{total} event{plural}: " + ", ".join(parts) + ("..." if parts else "")
