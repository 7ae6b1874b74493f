"""Enrichment operators (SURVEY.md §2 O11, O12, O28).

- metadata stamping: constant columns + processing time
  (ref: core/sensor.go:90-96, core/aggregator.go:61). The streaming
  service replaces ``detected_at`` with the epoch's batch timestamp on
  the driver (``streaming/pipeline.py:split_sink``).
- geo enrichment: the reference does a per-row in-process MaxMind lookup
  (ref: core/aggregator.go:62-66). For ``compile_batch`` that is a
  *broadcast left outer join* against a geo dimension table: the dim
  ships once to every executor, the probe stays in whole-stage codegen,
  and failed lookups leave the columns NULL exactly like the reference's
  ``err == nil`` guard. At 100 TB the fact side streams through
  unchanged — no shuffle, because the broadcast join requires none. The
  streaming service does the same lookup on the driver
  (``streaming/pipeline.py:geo_table`` + ``split_sink``), against a dim
  collected once per query: in a micro-batch the join's broadcast would
  run again every epoch.
- re-enrichment batch job (the ``-geo`` flag, ref: core/aggregator.go:
  174-209): full scan → join new dim → keep the new values where they
  changed → overwrite. Set-oriented MERGE instead of per-row UPDATEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GEO_COLUMNS = ("country_code", "country_name")


def ip_to_long(ip: "F.Column | str") -> "F.Column":
    """Dotted-quad IPv4 → long, as a native expression (no UDF):
    fold the split octets into (((a*256)+b)*256+c)*256+d."""
    octets = F.split(ip, r"\.")
    return F.aggregate(
        F.transform(octets, lambda o: o.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, o: acc * 256 + o,
    )


def ip_range_enrich(
    events: DataFrame,
    ranges: DataFrame,
    *,
    ip_col: str = "address",
    lo_col: str = "ip_lo",
    hi_col: str = "ip_hi",
) -> DataFrame:
    """True GeoIP semantics: range lookup, the join form of the
    reference's mmdb longest-prefix query (O12, ref:
    core/aggregator.go:62-66 — the mmdb file *is* a sorted range table).

    Broadcast non-equi join: with the dim broadcast, the range predicate
    runs as a BroadcastNestedLoopJoin — each fact row scans the in-memory
    dim. Fine for dim sizes like GeoLite (~0.5M ranges) when the probe is
    a binary-searchable structure; for plain Spark the scale path is to
    pre-bucket both sides by a fixed prefix (e.g. /8) and equi-join on
    the bucket before applying the range predicate — that keeps the
    nested-loop bounded per bucket.
    """
    ipl = ip_to_long(F.col(ip_col))
    dim = F.broadcast(ranges)
    cond = (ipl >= dim[lo_col]) & (ipl <= dim[hi_col])
    return events.join(dim, cond, "left").drop(lo_col, hi_col)


def stamp_metadata(df: DataFrame, *, sensor: str, node_name: str) -> DataFrame:
    """Stamp sensor name, node name and processing time (``detected_at``,
    O11). In a micro-batch ``current_timestamp()`` is a literal that
    changes every epoch, so the streaming service drops this column for
    a NULL placeholder, which ``streaming/pipeline.py:split_sink`` sets
    to the same value, the epoch's ``batchTimestampMs``."""
    return (
        df.withColumn("sensor", F.lit(sensor))
        .withColumn("node_name", F.lit(node_name))
        .withColumn("detected_at", F.current_timestamp())
    )


def geo_enrich(events: DataFrame, geo_dim: DataFrame) -> DataFrame:
    """Broadcast left-outer join of ``events.address`` against the geo
    dimension's ``ip`` (O12).

    ``geo_dim`` must carry ``(ip, country_code, country_name)``. The
    explicit ``F.broadcast`` hint makes the plan independent of the
    autoBroadcast threshold — a geo dim is always the small side.
    """
    dim = F.broadcast(
        geo_dim.select(
            F.col("ip").alias("__geo_key"), *[F.col(c) for c in GEO_COLUMNS]
        )
    )
    joined = events.join(dim, events["address"] == dim["__geo_key"], "left")
    return joined.drop("__geo_key")


def re_enrich(events: DataFrame, geo_dim: DataFrame) -> DataFrame:
    """Full-table geo refresh — the ``-geo`` batch job (O28).

    Returns the events table with country columns replaced by the new
    dim's values where the lookup now succeeds, keeping the old values
    where it doesn't (the reference only updates rows whose lookup
    succeeded and changed, ref: core/aggregator.go:185-200).
    """
    dim = F.broadcast(
        geo_dim.select(
            F.col("ip").alias("__geo_key"),
            F.col("country_code").alias("__new_cc"),
            F.col("country_name").alias("__new_cn"),
        )
    )
    joined = events.join(dim, events["address"] == dim["__geo_key"], "left")
    return (
        joined.withColumn(
            "country_code", F.coalesce(F.col("__new_cc"), F.col("country_code"))
        )
        .withColumn(
            "country_name", F.coalesce(F.col("__new_cn"), F.col("country_name"))
        )
        .drop("__geo_key", "__new_cc", "__new_cn")
    )


def geo_dim_from_mmdb(spark, mmdb_path: str, *, reader_factory=None):
    """Convert a MaxMind country database (the reference's
    ``database.geoip`` file, ref core/aggregator.go:154-157 +
    config.example.yml:7) into the (ip_lo, ip_hi, country_code,
    country_name) range-dim DataFrame that :func:`ip_range_enrich`
    consumes.

    The mmdb is a prefix trie over CIDR networks; flattening it to
    [network_start, network_end] rows turns the longest-prefix lookup
    into the broadcastable range join — the at-scale equivalent of the
    reference's per-row ``geoip.Country()`` call. Runs driver-side once
    per refresh (GeoLite is ~half a million IPv4 networks, a few MB as
    a dim table), then broadcasts.

    ``reader_factory`` injects any iterable of ``(network, record)``
    pairs (ipaddress.IPv4Network, MaxMind-shaped dict); the default
    needs the optional ``maxminddb`` package.
    """
    if reader_factory is None:
        try:
            import maxminddb
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "geo_dim_from_mmdb needs the 'maxminddb' package (or pass "
                "reader_factory=); alternatively supply the geo dimension "
                "as parquet/csv via ip_range_enrich directly"
            ) from e

        def reader_factory():  # pragma: no cover - env-dependent
            with maxminddb.open_database(mmdb_path) as r:
                yield from r  # (network, record) pairs

    rows = []
    for network, record in reader_factory():
        if network.version != 4:
            continue
        country = (record or {}).get("country") or {}
        names = country.get("names") or {}
        rows.append(
            (
                int(network.network_address),
                int(network.broadcast_address),
                country.get("iso_code"),
                names.get("en"),
            )
        )
    return spark.createDataFrame(
        rows, "ip_lo long, ip_hi long, country_code string, country_name string"
    )


def default_rdns_resolver(addr: str) -> str | None:
    """Production reverse-DNS resolver: first PTR name for ``addr`` via
    the OS resolver, ``None`` when the lookup fails — the reference's
    ``names[0]`` / leave-unset-on-error contract
    (ref: core/aggregator.go:68-75, shipped commented out as "SLOW").
    """
    import socket

    if addr is None:
        return None
    try:
        return socket.gethostbyaddr(addr)[0]
    except (OSError, UnicodeError):
        return None


def rdns_enrich(
    events: DataFrame,
    *,
    addr_col: str = "address",
    out_col: str = "hostname",
    resolver=None,
) -> DataFrame:
    """Reverse-DNS enrichment (O13) — the one reference operator that
    ships disabled: ``net.LookupAddr`` per buffered event was "SLOW"
    (ref: core/aggregator.go:68-75), which is exactly the per-row
    driver-side shape Spark must not reproduce. Spark-first:

    - resolve each DISTINCT address once (one dedup shuffle; at corpus
      scale distinct IPs are orders of magnitude fewer than events),
    - batched through an injectable ``resolver(addr) -> str | None``
      inside ``mapInPandas`` partitions, so lookups run on executors in
      parallel and a slow resolver never blocks the driver
      (production: :func:`default_rdns_resolver`; tests and oracle
      queries inject a deterministic fake),
    - LEFT join the (address, hostname) map back: every event row
      survives, ``out_col`` is NULL where resolution failed, mirroring
      the reference's leave-``Hostname``-unset-on-error guard.
    """
    from typing import Iterator

    import pandas as pd

    if resolver is None:
        resolver = default_rdns_resolver

    def _resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "_addr": pdf["_addr"],
                    # None guard: a NULL address must not reach an
                    # arbitrary injected resolver (socket.gethostbyaddr
                    # raises TypeError on None, aborting the stage) —
                    # the contract is leave-hostname-unset-on-error.
                    out_col: [
                        None if a is None else resolver(a)
                        for a in pdf["_addr"]
                    ],
                }
            )

    mapping = (
        # NULL keys are excluded from the resolve map entirely: the
        # LEFT join below already yields a NULL hostname for NULL
        # addresses, and shipping a null row into the resolver batch
        # crashed the whole job under the default resolver.
        events.select(F.col(addr_col).cast("string").alias("_addr"))
        .where(F.col("_addr").isNotNull())
        .distinct()
        .mapInPandas(_resolve, schema=f"_addr string, {out_col} string")
        .withColumnRenamed("_addr", addr_col)
    )
    return events.join(mapping, addr_col, "left")
