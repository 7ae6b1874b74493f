"""Pure helpers: percentiles, spreads and chunk-to-batch latency."""

from __future__ import annotations

import math
import statistics
from datetime import datetime

#: percentiles the tail helper may report, lowest first
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(n: int, p: float) -> int:
    # round first: 99.9 * 10000 / 100 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples beyond the nearest-rank ``p``-th percentile."""
    return n - _rank(n, p)


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest ladder percentile with at least ``min_beyond`` samples
    beyond it, as ``(p, value)``; ``None`` when even the median lacks
    that support."""
    n = len(values)
    best = None
    for p in PERCENTILE_LADDER:
        if beyond(n, p) >= min_beyond:
            best = p
    return None if best is None else (best, percentile(values, best))


def quartile_summary(values: list[float]) -> dict[str, float]:
    """median, quartiles (``statistics.quantiles(n=4)``), min, max and
    the quartile spread as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "spread": (q3 - q1) / med if med else float("inf"),
    }


def epoch_seconds(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_ends(progress: list[dict], source_of: dict[str, str]) -> list[tuple[float, dict[str, int]]]:
    """Per micro-batch with input, in batch order: (end time in epoch
    seconds, cumulative input rows per sensor after that batch).

    ``source_of`` maps a sensor name to a substring that identifies its
    source in the progress ``description`` (its directory). A batch ends
    at its trigger timestamp plus ``triggerExecution``, which covers the
    whole ``foreachBatch`` call and the commit.
    """
    seen: dict[int, dict] = {}
    for ev in progress:
        seen[ev["batchId"]] = ev  # a batch reports once; keep the last
    cum = {s: 0 for s in source_of}
    out = []
    for bid in sorted(seen):
        ev = seen[bid]
        rows = {s: 0 for s in source_of}
        for src in ev.get("sources", []):
            for sensor, key in source_of.items():
                if key in src.get("description", ""):
                    rows[sensor] += int(src.get("numInputRows", 0))
        if not any(rows.values()):
            continue
        for s in cum:
            cum[s] += rows[s]
        end = epoch_seconds(ev["timestamp"]) + ev["durationMs"]["triggerExecution"] / 1000.0
        out.append((end, dict(cum)))
    return out


def chunk_latencies(
    chunks: dict[str, list[tuple[float, int]]],
    progress: list[dict],
    source_of: dict[str, str],
) -> dict[str, list[float | None]]:
    """Latency of every chunk: end of the micro-batch that committed it
    minus its creation stamp; ``None`` while uncommitted.

    ``chunks`` maps sensor -> [(created_at epoch seconds, lines)] in the
    order the chunks were published. The file source consumes one
    directory's files in that order, so chunk ``i`` is committed by the
    first batch whose cumulative input rows for its sensor reach the
    cumulative line count up to and including chunk ``i``.
    """
    ends = batch_ends(progress, source_of)
    out: dict[str, list[float | None]] = {}
    for sensor, stamps in chunks.items():
        lat: list[float | None] = []
        need = 0
        j = 0
        for created, lines in stamps:
            need += lines
            while j < len(ends) and ends[j][1][sensor] < need:
                j += 1
            lat.append(ends[j][0] - created if j < len(ends) else None)
        out[sensor] = lat
    return out


def median(xs: list[float], default: float = 0.0) -> float:
    return statistics.median(xs) if xs else default


def tail(xs: list[float]) -> float:
    """The tail-percentile value, or the maximum where the sample is too
    small to support one."""
    t = tail_percentile(xs)
    return t[1] if t else (max(xs) if xs else 0.0)
