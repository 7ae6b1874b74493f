"""Property-based tests (hypothesis): the Go-layout→JDK translator must
agree with an independent pure-Python Go-layout renderer across random
datetimes, and Spark's Java-regex tokenization must agree with Python's
``re`` on the reference's pattern subset across fuzzed log lines.

Each property collects its samples first and runs ONE Spark job over the
whole batch (Spark startup per example would be prohibitive).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import re as pyre

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from takuan_spark.config import go_layout_to_java

# independent Go reference-time renderer (subset used by log formats)
_GO_RENDER = {
    "2006": "%Y",
    "01": "%m",
    "02": "%d",
    "15": "%H",
    "04": "%M",
    "05": "%S",
    "Jan": "%b",
    "January": "%B",
    "-0700": "+0000",  # rendered fixed-UTC; parse side must accept it
}


def render_go(layout: str, dt: datetime) -> str:
    """Render like Go's time.Format: scan the LAYOUT for tokens
    (longest first) — never substring-replace into rendered output,
    where e.g. year '2002' contains the day token '02'."""
    tokens = sorted(_GO_RENDER, key=len, reverse=True) + ["_2"]
    out = []
    i = 0
    while i < len(layout):
        for tok in tokens:
            if layout.startswith(tok, i):
                if tok == "_2":
                    out.append(f"{dt.day:2d}")
                else:
                    py = _GO_RENDER[tok]
                    out.append(dt.strftime(py) if py.startswith("%") else py)
                i += len(tok)
                break
        else:
            out.append(layout[i])
            i += 1
    return "".join(out)


LAYOUTS = [
    "2006 Jan _2 15:04:05",
    "02/Jan/2006:15:04:05 -0700",
    "2006-01-02 15:04:05",
    "2006-01-02T15:04:05",
]

datetimes = st.datetimes(
    min_value=datetime(1995, 1, 1), max_value=datetime(2030, 12, 31)
).map(lambda d: d.replace(microsecond=0))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(LAYOUTS), datetimes), min_size=1, max_size=30))
def test_go_layout_translation_agrees_with_renderer(spark, samples):
    rows = [
        (layout, go_layout_to_java(layout), render_go(layout, dt), dt)
        for layout, dt in samples
    ]
    df = spark.createDataFrame(
        rows, "layout string, java string, rendered string, expected timestamp"
    )
    parsed = df.select(
        "layout",
        "rendered",
        "expected",
        F.try_to_timestamp(
            F.regexp_replace("rendered", r" +", " "), F.col("java")
        ).alias("got"),
    ).collect()
    for r in parsed:
        assert r["got"] is not None, (r["layout"], r["rendered"])
        # tz layouts render +0000 -> parsed instant equals naive expected (UTC session)
        assert r["got"] == r["expected"], (r["layout"], r["rendered"], r["got"])


ssh_msg = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" "),
    min_size=1,
    max_size=40,
).filter(lambda s: s.strip() != "")


@settings(max_examples=20, deadline=None)
@given(st.lists(ssh_msg, min_size=1, max_size=25))
def test_regex_dialects_agree_on_ssh_pattern(spark, messages):
    """The reference's RE2 patterns sit in the RE2∩Java∩Python common
    subset; fuzz message bodies through the ssh parser pattern and
    compare Spark's extraction with Python re group-by-group."""
    pattern = r"^(.+)\s+.+\s+sshd\[\d+\]: (.+)\s+(.+)\s+port\s+\d+$"
    lines = [
        f"Aug 13 06:15:01 host1 sshd[77]: {m} from 1.2.3.{i % 256} port 22"
        for i, m in enumerate(messages)
    ] + ["garbage line", "Aug 13 host sshd[1]: no port here"]
    py = {}
    for line in lines:
        m = pyre.match(f"(?i){pattern}", line)
        if m:
            py[line] = (m.group(1), m.group(2), m.group(3))
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = {
        r["value"]: (r["g1"], r["g2"], r["g3"])
        for r in df.where(F.col("value").rlike(f"(?i){pattern}"))
        .select(
            "value",
            F.regexp_extract("value", f"(?i){pattern}", 1).alias("g1"),
            F.regexp_extract("value", f"(?i){pattern}", 2).alias("g2"),
            F.regexp_extract("value", f"(?i){pattern}", 3).alias("g3"),
        )
        .collect()
    }
    assert got == py


# ---------------------------------------------------------------- as-of


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        max_size=25,
    ),
)
@settings(max_examples=30, deadline=None)
def test_asof_join_matches_naive(spark, left, right):
    """asof_join (union-tag window) must agree with a naive O(n*m)
    backward lookup for every (key, time) distribution — including
    equal timestamps (at-or-before semantics) and empty right sides."""
    from takuan_zoo.operators.joins import asof_join

    # deduplicate right on (k, t): multiple identical keys at one time
    # have no defined winner in the naive model (engine picks max
    # payload struct); keep the property about time semantics.
    right = list({(k, t): (k, t) for k, t in right}.values())
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "id long, k long, t long"
    )
    rdf = spark.createDataFrame(
        [(k, t, float(k * 1000 + t)) for k, t in right],
        "k long, t long, v double",
    )
    got = {
        r["id"]: (r["rt"], r["rv"])
        for r in asof_join(
            ldf,
            rdf,
            on="k",
            left_time="t",
            right_time="t",
            right_values={"t": "rt", "v": "rv"},
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rk, rt) for rk, rt in right if rk == k and rt <= t]
        if not cands:
            assert got[i] == (None, None), (i, k, t, got[i])
        else:
            bt = max(rt for _, rt in cands)
            assert got[i] == (bt, float(k * 1000 + bt)), (i, k, t, got[i])


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=20,
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None)
def test_md5_hash_family_matches_python(spark, strings):
    """The md5-derived hash family (the portability foundation of every
    sketch oracle) must produce in Spark exactly the integers a plain
    Python/external-SQL reimplementation derives."""
    import hashlib

    from pyspark.sql import functions as F

    from takuan_zoo.operators.hashing import (
        MERSENNE31,
        affine,
        affine_params,
        md5_int,
    )

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    (a0, b0), (a1, b1) = affine_params(2)
    got = {
        r["s"]: (r["h32"], r["h60"], r["f0"], r["f1"])
        for r in df.select(
            "s",
            md5_int("s").alias("h32"),
            md5_int("s", hex_chars=15).alias("h60"),
            affine(md5_int("s") % F.lit(MERSENNE31), a0, b0).alias("f0"),
            affine(md5_int("s") % F.lit(MERSENNE31), a1, b1).alias("f1"),
        ).collect()
    }
    for s in strings:
        hx = hashlib.md5(s.encode()).hexdigest()
        h32, h60 = int(hx[:8], 16), int(hx[:15], 16)
        assert got[s][0] == h32
        assert got[s][1] == h60
        assert got[s][2] == (a0 * (h32 % MERSENNE31) + b0) % MERSENNE31
        assert got[s][3] == (a1 * (h32 % MERSENNE31) + b1) % MERSENNE31


def test_affine_params_deterministic_and_in_range():
    from takuan_zoo.operators.hashing import MERSENNE31, affine_params

    p1, p2 = affine_params(64), affine_params(64)
    assert p1 == p2  # pure function of (seed, i)
    assert affine_params(64, seed=7) != p1  # seed actually changes family
    for a, b in p1:
        assert 1 <= a < MERSENNE31 and 0 <= b < MERSENNE31
    assert len({ab for ab in p1}) == 64  # distinct members


# ---------------------------------------------------------- timeseries

@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),  # bucket index
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=32
            ),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_gap_fill_spine_density_and_locf(spark, points):
    """The filled series has exactly (max-min)/interval + 1 rows, the
    value column survives on observed buckets, and LOCF is never null
    (the spine starts at the first observation)."""
    import datetime as dt

    from takuan_zoo.operators.timeseries import gap_fill

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("g", base + dt.timedelta(seconds=600 * i), float(v))
        for i, v in points
    ]
    series = spark.createDataFrame(
        rows, "g string, bucket timestamp_ntz, v double"
    )
    out = gap_fill(
        series, group_cols=["g"], interval_secs=600, value_col="v"
    ).collect()
    idxs = sorted(i for i, _ in points)
    assert len(out) == idxs[-1] - idxs[0] + 1
    assert all(r["locf_value"] is not None for r in out)
    observed = {i for i, _ in points}
    for r in out:
        i = int((r["bucket"] - base).total_seconds()) // 600
        assert (r["v"] is not None) == (i in observed)


# ------------------------------------------------------------ sketches

@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="abcdefghij", min_size=1, max_size=6
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=7),
)
def test_kmv_exact_when_under_k_any_partitioning(spark, toks, n_parts):
    """With fewer distinct values than k the sketch IS the distinct
    count, under any partitioning of the input."""
    from takuan_zoo.operators.sketches import kmv_distinct

    df = spark.createDataFrame(
        [("s", t) for t in toks], "source string, tok string"
    ).repartition(n_parts)
    out = kmv_distinct(
        df, group_cols=["source"], value_col="tok", k=4096
    ).collect()[0]
    assert out["est_distinct"] == len(set(toks))


# ------------------------------------------------------ duplicated spans

def _spans_reference(corpus: dict[int, list[str]], n: int) -> set[tuple]:
    """Brute-force python re-implementation of duplicated_spans: n-gram
    occurrence map -> grams in >=2 docs -> per-doc island merge (a new
    island starts when a hit does not overlap/touch the previous one,
    i.e. pos > prev + n)."""
    grams: dict[tuple, set[int]] = {}
    for d, toks in corpus.items():
        for i in range(len(toks) - n + 1):
            grams.setdefault(tuple(toks[i : i + n]), set()).add(d)
    out = set()
    for d, toks in corpus.items():
        hits = [
            (i, len(grams[tuple(toks[i : i + n])]))
            for i in range(len(toks) - n + 1)
            if len(grams[tuple(toks[i : i + n])]) >= 2
        ]
        island: list[tuple[int, int]] = []

        def flush():
            if island:
                out.add(
                    (
                        d,
                        island[0][0],
                        island[-1][0] + n - 1,
                        len(island),
                        max(x for _, x in island),
                    )
                )

        for i, nd in hits:
            if island and i > island[-1][0] + n:
                flush()
                island = []
            island.append((i, nd))
        flush()
    return out


def _gen_span_cases(n_cases: int = 20) -> list[list[list[str]]]:
    """Deterministic small-vocabulary corpora (heavy n-gram collisions)
    — seeded random, so the case set is identical in every process and
    test order (a hypothesis-fills-a-module-pool pattern silently
    degrades under xdist / -k selection)."""
    import random

    rng = random.Random(20260814)
    cases = []
    for _ in range(n_cases):
        docs = [
            [rng.choice("abcd") for _ in range(rng.randint(0, 24))]
            for _ in range(rng.randint(2, 6))
        ]
        cases.append(docs)
    # planted guaranteed-duplicate case
    cases.append(
        [["a", "b", "c", "a", "b", "c"], ["x", "a", "b", "c", "a", "b", "c"]]
    )
    return cases


def test_duplicated_spans_matches_reference(spark):
    from pyspark.sql import Row

    from takuan_zoo.operators.dedup import duplicated_spans

    n = 3
    for docs_tokens in _gen_span_cases():
        corpus = {i: toks for i, toks in enumerate(docs_tokens)}
        sdf = spark.createDataFrame(
            [Row(doc_id=d, text=" ".join(t)) for d, t in corpus.items()]
        )
        got = {
            (
                r["doc_id"],
                r["span_start"],
                r["span_end"],
                r["n_grams"],
                r["max_dup_docs"],
            )
            for r in duplicated_spans(sdf, n=n).collect()
        }
        assert got == _spans_reference(corpus, n), (corpus, got)


# ------------------------------------------------------ HLL reference


def _hll_reference(values) -> tuple[float, int]:
    """Independent Python HLL with the same md5 register derivation:
    h = first 15 md5 hex chars; reg = h % 64; rho = 55 - bitlen of the
    54-bit suffix; estimate per operators/sketches.py."""
    import hashlib
    import math

    regs: dict[int, int] = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        reg, w = h % 64, h // 64
        rho = 55 - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    zeros = 64 - len(regs)
    total = sum(1 << (55 - r) for r in regs.values()) + zeros * (1 << 55)
    alpha = 0.7213 / (1.0 + 1.079 / 64)
    raw = alpha * 64 * 64 * float(1 << 55) / total
    if raw <= 2.5 * 64 and zeros > 0:
        est = 64.0 * math.log(64.0 / zeros)
    else:
        est = raw
    return round(est, 4), len(regs)


@given(
    st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=8),
        min_size=1,
        max_size=80,
    ),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=8, deadline=None)
def test_hll_matches_python_reference_any_partitioning(spark, toks, n_parts):
    from takuan_zoo.operators.sketches import hll_distinct

    df = spark.createDataFrame(
        [("s", t) for t in toks], "source string, tok string"
    ).repartition(n_parts)
    out = hll_distinct(df, group_cols=["source"], value_col="tok").collect()[0]
    want_est, want_regs = _hll_reference(set(toks))
    assert (out["est_distinct"], out["n_regs"]) == (want_est, want_regs)


@given(
    st.lists(
        st.floats(min_value=0.0, max_value=99.9, allow_nan=False),
        min_size=5,
        max_size=120,
    ),
)
@settings(max_examples=8, deadline=None)
def test_histogram_quantile_within_one_bin_of_truth(spark, vals):
    """The interpolated estimate can never be farther from the true
    quantile than one bin width (both live in the covering bin)."""
    from takuan_zoo.operators.sketches import histogram_quantiles, histogram_sketch

    df = spark.createDataFrame([(v,) for v in vals], "v double").withColumn(
        "g", F.lit("a")
    )
    kw = dict(group_cols=["g"], lo=0.0, hi=100.0, bins=25)
    out = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            histogram_sketch(df, value_col="v", **kw), qs=(0.5, 0.9), **kw
        ).collect()
    }
    width = 4.0
    s = sorted(vals)
    n = len(s)
    for q in (0.5, 0.9):
        # at rank boundaries the q-quantile is any value between the
        # two adjacent order statistics — the estimate must land within
        # one bin of that interval, not of one arbitrary convention.
        import math

        lo_true = s[max(0, math.ceil(q * n) - 1)]
        hi_true = s[min(n - 1, math.floor(q * n))]
        assert lo_true - width - 1e-9 <= out[q] <= hi_true + width + 1e-9


@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=4),
        min_size=3,
        max_size=12,
    ),
    st.lists(
        st.text(alphabet="fghij", min_size=1, max_size=4),
        min_size=0,
        max_size=8,
    ),
)
@settings(max_examples=8, deadline=None)
def test_containment_of_embedded_doc_is_one(spark, inner, framing):
    """Whenever doc A's word sequence appears verbatim inside doc B,
    containment(A -> B) must be exactly 1.0 (every shingle of A is a
    shingle of B) — the property Jaccard does not have."""
    from takuan_zoo.operators.dedup import containment_pairs

    a_text = " ".join(inner)
    b_text = " ".join(framing + inner + framing)
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    out = {
        (r["id"], r["other"]): r["containment"]
        for r in containment_pairs(docs, n=3, threshold=0.0).collect()
    }
    assert out[(1, 2)] == 1.0


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        min_size=1,
        max_size=60,
    )
)
def test_jaccard_threshold_bin_equals_direct_filter(spark, vals):
    """The sweep's bin assignment must reproduce the per-threshold
    double comparison exactly: for every threshold k/10, rows with
    bin >= k are EXACTLY the rows with value >= k/10.0 (the property
    floor(v*10) violates at boundary doubles like 0.3)."""
    from takuan_zoo.operators.dedup import jaccard_threshold_bin

    df = spark.createDataFrame([(float(v),) for v in vals], "jaccard double")
    got = [
        r["b"]
        for r in df.select(
            jaccard_threshold_bin(F.col("jaccard")).alias("b")
        ).collect()
    ]
    for k in range(2, 10):
        t = k / 10.0
        assert sum(1 for b in got if b >= k) == sum(
            1 for v in vals if v >= t
        )


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=2,
        max_size=50,
    )
)
def test_ks_drift_matches_naive_ecdf(spark, data):
    """ks_drift must equal the textbook two-sample statistic computed
    by a naive per-group ECDF sweep in pure Python (group vs pooled),
    to the 6dp rounding the operator promises."""
    from takuan_zoo.operators.corpus_stats import ks_drift

    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=s, n_chars=v) for i, (s, v) in enumerate(data)]
    )
    got = {r["source"]: r["ks_d"] for r in ks_drift(docs).collect()}
    xs = sorted({v for _, v in data})
    pooled = [v for _, v in data]
    for src in {s for s, _ in data}:
        mine = [v for s, v in data if s == src]
        d = max(
            abs(
                sum(1 for v in mine if v <= x) / len(mine)
                - sum(1 for v in pooled if v <= x) / len(pooled)
            )
            for x in xs
        )
        assert abs(got[src] - d) < 1e-6, (src, got[src], d)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    k=st.integers(2, 4),
)
@settings(max_examples=12, deadline=None)
def test_kcore_peel_matches_reference_peeling(spark, edges, k):
    """kcore_peel must equal an independent Python peeling of the same
    number of rounds on random small graphs."""
    from takuan_zoo.operators.graph import kcore_peel

    rounds = 3
    es = set(edges)
    for _ in range(rounds):
        deg: dict[int, int] = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        es = {(u, v) for u, v in es if u in keep and v in keep}
    want_deg: dict[int, int] = {}
    for u, v in es:
        want_deg[u] = want_deg.get(u, 0) + 1
        want_deg[v] = want_deg.get(v, 0) + 1

    df = spark.createDataFrame(list(edges), "u int, v int")
    got = {
        (r.node, r.degree)
        for r in kcore_peel(df, k=k, rounds=rounds).collect()
    }
    assert got == set(want_deg.items())


@given(
    host=st.lists(
        st.text(alphabet="abc12-", min_size=1, max_size=4).filter(
            lambda s: not s.startswith("-") and not s.endswith("-")
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=15, deadline=None)
def test_host_suffixes_matches_python_split(spark, host):
    """host_suffixes must equal the Python dot-suffix enumeration for
    any label sequence."""
    from pyspark.sql import Row

    from takuan_zoo.operators.web import host_suffixes

    h = ".".join(host)
    want = [".".join(host[i:]) for i in range(len(host))]
    [row] = (
        spark.createDataFrame([Row(h=h)])
        .select(host_suffixes(F.col("h")).alias("s"))
        .collect()
    )
    assert row.s == want


@given(
    counts=st.lists(
        st.tuples(st.text(alphabet="ab", min_size=1, max_size=3),
                  st.integers(1, 5)),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=10, deadline=None)
def test_cms_estimate_upper_bounds_truth(spark, counts):
    """CMS point estimates are upper bounds of true frequencies (the
    sketch over-counts only on collisions, never under-counts) for any
    multiset — invariant under the r6 lane-hash family."""
    from takuan_zoo.operators import sketches

    rows = [(t,) for t, c in counts for _ in range(c)]
    df = spark.createDataFrame(rows, "tok string").withColumn(
        "g", F.lit("all")
    )
    grid = sketches.cms_counters(
        df, group_cols=["g"], value_col="tok", depth=4, width=64
    )
    truth: dict[str, int] = {}
    for t, c in counts:
        truth[t] = truth.get(t, 0) + c
    probes = spark.createDataFrame([(t,) for t in truth], "term string")
    est = {
        r.term: r.est_count
        for r in sketches.cms_estimate(
            grid, probes, group_cols=["g"], depth=4, width=64
        ).collect()
    }
    for t, c in truth.items():
        assert est[t] >= c
