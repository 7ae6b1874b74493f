"""Portable Bloom-filter pre-filtering — the runtime-filter join
optimization, made oracle-checkable.

The at-scale pattern: before a big fact-to-dim join shuffles the fact
table, broadcast a small bit-set built from the dim keys and drop fact
rows that cannot match. Spark's own runtime filters (and Parquet
bloom filters) do this opaquely; this operator builds the filter from
the portable md5 hash family, so which rows pass — including the false
positives — is bit-reproducible by an external SQL engine.

The filter state is a sorted array of occupied bucket ids (at most
``mbits`` ints, broadcast as one row). Membership tests are ``k``
``array_contains`` lookups AND-ed together — pure codegen'd
expressions on the fact side; no UDFs, no join until after the
pre-filter has discarded the misses.

Two hash families behind one bucket interface:

- ``family="md5"`` (default, ORACLE mode): md5-derived buckets an
  external SQL engine reproduces bit-for-bit — the correctness-gate
  family. Cost: one md5 over a materialized string per (row, hash).
- ``family="xxhash64"`` (PRODUCTION mode): Spark-native xxhash64 over
  the raw column — no string materialization, stays integer-typed
  inside whole-stage codegen. Same no-false-negative guarantee (any
  key present at build time passes the probe), so any query that
  verifies with the real join downstream is exact under either family;
  only the false-positive SET differs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators.hashing import md5_int, sql_md5_int

FAMILIES = ("md5", "xxhash64")


def _bucket(key: Column, j: int, mbits: int, family: str = "md5") -> Column:
    if family == "xxhash64":
        # seed-per-hash via a leading literal column; pmod (not %) so
        # negative hashes land in [0, mbits)
        return F.pmod(F.xxhash64(F.lit(j), key), F.lit(mbits)).cast("int")
    if family != "md5":
        raise ValueError(f"unknown bloom hash family {family!r}; use {FAMILIES}")
    return (
        md5_int(F.concat_ws(":", F.lit(j), key), hex_chars=15) % F.lit(mbits)
    ).cast("int")


def bloom_buckets(
    keys: DataFrame,
    *,
    key_col: str,
    mbits: int = 1024,
    k: int = 3,
    family: str = "md5",
) -> DataFrame:
    """``(b int)`` occupied-bucket rows (duplicates included) for a key
    set under ``k`` hash functions — the pre-aggregation form shared by
    :func:`bloom_build` and the streaming bucket sink."""
    return keys.where(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(
                *[_bucket(F.col(key_col), j, mbits, family) for j in range(k)]
            )
        ).alias("b")
    )


def bloom_build(
    keys: DataFrame,
    *,
    key_col: str,
    mbits: int = 1024,
    k: int = 3,
    family: str = "md5",
) -> DataFrame:
    """One-row frame ``(bloom array<int>)``: the sorted distinct bucket
    ids occupied by the key set under ``k`` hash functions. Bounded by
    ``mbits`` whatever the key count — that bound is what makes it
    broadcastable when the dim is too big to broadcast raw."""
    buckets = bloom_buckets(
        keys, key_col=key_col, mbits=mbits, k=k, family=family
    )
    return buckets.agg(F.sort_array(F.collect_set("b")).alias("bloom"))


def bloom_prefilter(
    fact: DataFrame,
    bloom: DataFrame,
    *,
    key_col: str,
    mbits: int = 1024,
    k: int = 3,
    family: str = "md5",
) -> DataFrame:
    """Fact rows whose key MIGHT be in the filter (all ``k`` buckets
    occupied). The one-row bloom frame is broadcast; the membership
    predicate is codegen'd array lookups, evaluated before any shuffle
    of the fact table.

    NULL keys are dropped on both sides (equi-join semantics: NULL
    never matches). Without the explicit ``isNotNull`` Spark's
    ``concat_ws`` would skip the null and hash the bare ``"j:"``
    prefix, while the oracle's ``||`` null-propagates and always
    rejects — the explicit filter pins the two engines to the same
    pass set for nullable keys."""
    cond: Column = F.col(key_col).isNotNull()
    for j in range(k):
        cond = cond & F.array_contains(
            F.col("bloom"), _bucket(F.col(key_col), j, mbits, family)
        )
    return fact.crossJoin(F.broadcast(bloom)).where(cond).drop("bloom")


def bloom_bitmap_prefilter(
    fact: DataFrame,
    bloom: DataFrame,
    *,
    key_col: str,
    mbits: int = 1024,
    k: int = 3,
    family: str = "xxhash64",
) -> DataFrame:
    """PRODUCTION-shape bloom probe: materialize the built filter on
    the driver (bounded: <= ``mbits`` bucket ids, a few KB — the same
    mechanism Spark's own runtime filters use: execute the build side,
    inject the result as a literal predicate) and test membership
    against a LITERAL BITMAP of ``mbits / 64`` longs.

    Two properties the broadcast-crossJoin form lacks:

    - the probe is O(1) per (row, hash) — one word index + shift —
      instead of an O(occupied-buckets) array scan;
    - a literal predicate is a plain Filter on the fact scan, which
      Catalyst CANNOT reorder above a downstream join (the crossJoin
      form is join-reorderable, and the optimizer will happily move it
      past the very shuffle it exists to protect — observed, and
      gated in tests/test_plans.py).
    """
    if mbits % 64:
        raise ValueError("mbits must be a multiple of 64")
    values = bloom.collect()[0]["bloom"] or []
    words = [0] * (mbits // 64)
    for b in values:
        words[b // 64] |= 1 << (b % 64)
    # Python ints with bit 63 set exceed signed int64 — wrap to the
    # two's-complement value Spark's LongType expects
    signed = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = F.array(*[F.lit(w).cast("long") for w in signed])
    cond: Column = F.col(key_col).isNotNull()
    for j in range(k):
        b = _bucket(F.col(key_col), j, mbits, family).cast("long")
        word = F.element_at(bitmap, (F.floor(b / 64) + 1).cast("int"))
        hit = F.getbit(word, (b % 64).cast("int")) == 1
        cond = cond & hit
    return fact.where(cond)


def sql_bloom_bucket(key_expr: str, j: int, mbits: int) -> str:
    """DuckDB spelling of the bucket hash — identical integers to
    :func:`_bucket` (Spark's concat_ws renders a bigint key the same
    way CAST AS VARCHAR does)."""
    inner = f"('{j}:' || CAST({key_expr} AS VARCHAR))"
    return f"CAST({sql_md5_int(inner, hex_chars=15)} % {mbits} AS INT)"
