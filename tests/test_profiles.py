"""transformWithStateInPandas per-address profile operator: state
carries across micro-batches, counters use the reference's sorted
encoding, snapshots emit per batch (Update mode)."""

from __future__ import annotations

import pandas as pd
import pytest

from takuan_zoo.streaming.profiles import address_profiles

try:  # transformWithState's control channel needs a working protobuf
    from google.protobuf import descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:  # pragma: no cover - environment-dependent
    _HAS_PROTOBUF = False

# Applied per-test (not module-wide): only the tests that run an
# actual transformWithState STREAM need protobuf — the processor's
# state-transition semantics are covered unconditionally further down,
# so a protobuf-less environment still verifies the operator's logic
# and the skip is scoped to exactly the wire-protocol dependency.
needs_protobuf = pytest.mark.skipif(
    not _HAS_PROTOBUF,
    reason="transformWithStateInPandas requires google.protobuf "
    "(declared in configs/requirements-optional.txt; install with "
    "`pip install -r configs/requirements-optional.txt`). This "
    "container cannot install packages, so the wire-protocol tests "
    "skip; the operator's state-transition logic is still verified "
    "unconditionally below, and the applyInPandasWithState fallback "
    "(streaming/stateful.py) is fully stream-tested.",
)


@pytest.fixture()
def stream_env(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": src,
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _write_chunk(path, rows):
    pdf = pd.DataFrame(rows, columns=["address", "created_at", "rule"])
    pdf["created_at"] = pd.to_datetime(pdf["created_at"]).astype("datetime64[us]")
    pdf.to_parquet(path)


def _drain(spark, env):
    # transformWithState supports only the RocksDB state store
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = spark.readStream.schema(
        "address string, created_at timestamp, rule string"
    ).parquet(str(env["src"]))
    q = (
        address_profiles(stream, ttl_idle_secs=3600)
        .writeStream.format("parquet")
        .option("path", env["out"])
        .option("checkpointLocation", env["ckpt"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


@needs_protobuf
def test_profiles_accumulate_across_batches(spark, stream_env):
    _write_chunk(
        stream_env["src"] / "c1.parquet",
        [
            ("1.1.1.1", "2026-08-13 06:00:00", "auth-failure"),
            ("1.1.1.1", "2026-08-13 06:00:10", "auth-failure"),
            ("1.1.1.1", "2026-08-13 06:00:20", "user-enumeration"),
            ("2.2.2.2", "2026-08-13 06:01:00", "auth-failure"),
        ],
    )
    _drain(spark, stream_env)
    snap1 = {
        r["address"]: r
        for r in spark.read.parquet(stream_env["out"]).collect()
    }
    assert snap1["1.1.1.1"]["n_events"] == 3
    assert snap1["1.1.1.1"]["counters"] == "auth-failure:2|user-enumeration:1"
    assert snap1["2.2.2.2"]["n_events"] == 1

    # second batch: state carries, counts accumulate, first_seen sticks
    _write_chunk(
        stream_env["src"] / "c2.parquet",
        [
            ("1.1.1.1", "2026-08-13 06:05:00", "user-enumeration"),
        ],
    )
    _drain(spark, stream_env)
    rows = [
        r
        for r in spark.read.parquet(stream_env["out"]).collect()
        if r["address"] == "1.1.1.1"
    ]
    latest = max(rows, key=lambda r: r["n_events"])
    assert latest["n_events"] == 4
    assert latest["counters"] == "auth-failure:2|user-enumeration:2"
    assert latest["first_seen"] == int(
        pd.Timestamp("2026-08-13 06:00:00").timestamp()
    )
    assert latest["last_seen"] == int(
        pd.Timestamp("2026-08-13 06:05:00").timestamp()
    )


# ---------------------------------------------------------------------------
# Processor-semantics tests that run WITHOUT protobuf: the streaming
# tests above need transformWithState's protobuf control channel, but
# the state transitions themselves are plain Python — a fake handle
# exercises accumulation, counter encoding, and first/last-seen carry
# in every environment, so this file always verifies the operator's
# semantics even where the wire protocol cannot run.
# ---------------------------------------------------------------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return k in self._m

    def getValue(self, k):
        return self._m[k]

    def updateValue(self, k, v):
        self._m[k] = v

    def keys(self):
        return list(self._m.keys())


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeMapState())


def _batch(rows):
    pdf = pd.DataFrame(rows, columns=["address", "created_at", "rule"])
    pdf["created_at"] = pd.to_datetime(pdf["created_at"])
    return pdf


def test_processor_semantics_without_protobuf():
    from takuan_zoo.streaming.profiles import AddressProfileProcessor

    proc = AddressProfileProcessor()
    proc.init(_FakeHandle())
    out1 = list(
        proc.handleInputRows(
            ("1.1.1.1",),
            iter([_batch([
                ("1.1.1.1", "2026-08-13 06:00:00", "auth-failure"),
                ("1.1.1.1", "2026-08-13 06:00:10", "auth-failure"),
                ("1.1.1.1", "2026-08-13 06:00:20", "user-enumeration"),
            ])]),
            None,
        )
    )[0].iloc[0]
    assert out1["n_events"] == 3
    assert out1["counters"] == "auth-failure:2|user-enumeration:1"

    # second micro-batch: totals accumulate, first_seen sticks
    out2 = list(
        proc.handleInputRows(
            ("1.1.1.1",),
            iter([_batch([
                ("1.1.1.1", "2026-08-13 06:05:00", "user-enumeration"),
            ])]),
            None,
        )
    )[0].iloc[0]
    assert out2["n_events"] == 4
    assert out2["counters"] == "auth-failure:2|user-enumeration:2"
    assert out2["first_seen"] == int(
        pd.Timestamp("2026-08-13 06:00:00").timestamp()
    )
    assert out2["last_seen"] == int(
        pd.Timestamp("2026-08-13 06:05:00").timestamp()
    )
