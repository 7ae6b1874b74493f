"""North-star queries: LLM-training-data pipeline operators over the
``documents`` and ``embeddings`` tables (SURVEY.md §2.2).

Every query here carries a DuckDB oracle (note the 'g' flag on DuckDB
regexp_replace — Spark replaces globally by default, DuckDB does not).
The sketch queries (MinHash, SimHash, LSH, IVF) became oracle-checkable
in round 2 by making every hash/quantizer **md5-derived or
literal-embedded** (operators/hashing.py, similarity.fixed_centroids):
the same deterministic constants are compiled into the Spark plan and
into the oracle SQL string, so DuckDB re-derives bit-identical sketches.
Floating-point sketch boundaries (LSH sign bits, IVF argmax cells) are
stabilized by rounding scores to 6 decimals in both engines before any
comparison, so the two engines' ~1e-15 summation differences cannot flip
a decision.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_spark.operators.skew import spread
from takuan_spark.tables import load_table
from takuan_zoo.operators import (
    dedup,
    similarity,
    text,
)
from takuan_zoo.operators.hashing import (
    MERSENNE31,
    affine_params,
    sql_md5_int,
)
from takuan_zoo.queries import query

# stopword alternations reused inside the oracle SQL strings
_SW = {lang: "|".join(sws) for lang, sws in text.LANG_STOPWORDS.items()}

#: The testdata embeddings are 64-wide; operator APIs take any dim, but
#: the oracle SQL strings are generated against this width (literal
#: hyperplane/centroid arrays are embedded in the SQL text).
_EMB_DIM = 64

#: Scratch root for persisted-index queries (ivf_build/lsh_index_build).
#: Inside the repo (gitignored) — the container forbids writes elsewhere.
import os as _os

#: gitignored scratch root for persisted indexes, derived from the
#: package location so any checkout path works (not hardcoded).
_SCRATCH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    ".scratch",
)


def _source_id(sf_dir: str, table: str = "embeddings") -> str:
    """Cheap identity of the index's source data (size + mtime of the
    parquet file): goes into the build marker so a regenerated testdata
    set invalidates previously-built scratch indexes instead of being
    silently probed stale."""
    import os

    try:
        st = os.stat(f"{sf_dir.rstrip('/')}/{table}.parquet")
        return f"{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        return "unknown"



def _minhash_qc_tables(spark, sf_dir: str):
    """Build-or-read the shared MinHash QC artifact for ``sf_dir``
    (operators/dedup.py:minhash_qc_build) and return its two frames:
    (exact_pairs >= 0.2 with max_df=64, md5 signatures with 64
    hashes). All three MinHash QC queries consume these instead of
    re-running pair discovery + signature computation from raw text."""
    from takuan_zoo.operators import dedup as _dedup
    from takuan_spark.tables import load_table as _lt

    path = f"{_SCRATCH}/minhash_qc_{sf_dir.strip('/').split('/')[-1]}"
    _dedup.minhash_qc_build(
        _lt(spark, sf_dir, "documents"),
        path,
        n=3,
        max_df=64,
        min_threshold=0.2,
        num_hashes=64,
        source_id=_source_id(sf_dir, "documents"),
    )
    return (
        spark.read.parquet(f"{path}/exact_pairs"),
        spark.read.parquet(f"{path}/signatures"),
    )


def _pair_distribution_table(spark, sf_dir: str):
    """Build-or-read the planner-calibration artifact
    (operators/dedup.py:pair_distribution_build): EVERY max_df-capped
    inverted-index pair at jaccard >= 0.0 — the observed similarity
    distribution the index-tuning planners evaluate configurations
    against (they need the sub-threshold mass the production QC
    artifact's 0.2 floor drops)."""
    from takuan_zoo.operators import dedup as _dedup
    from takuan_spark.tables import load_table as _lt

    path = f"{_SCRATCH}/pair_dist_{sf_dir.strip('/').split('/')[-1]}"
    _dedup.pair_distribution_build(
        _lt(spark, sf_dir, "documents"),
        path,
        n=3,
        max_df=64,
        source_id=_source_id(sf_dir, "documents"),
    )
    return spark.read.parquet(f"{path}/pairs")


def _artifact_path(kind: str, sf_dir: str) -> str:
    return f"{_SCRATCH}/{kind}_{sf_dir.strip('/').split('/')[-1]}"


def _rebuild_minhash_qc(spark, sf_dir: str) -> None:
    from takuan_zoo.operators import dedup as _dedup
    from takuan_spark.tables import load_table as _lt

    _dedup.minhash_qc_build(
        _lt(spark, sf_dir, "documents"),
        _artifact_path("minhash_qc", sf_dir),
        n=3, max_df=64, min_threshold=0.2, num_hashes=64,
        source_id=_source_id(sf_dir, "documents"), rebuild=True,
    )


def _rebuild_pair_distribution(spark, sf_dir: str) -> None:
    from takuan_zoo.operators import dedup as _dedup
    from takuan_spark.tables import load_table as _lt

    _dedup.pair_distribution_build(
        _lt(spark, sf_dir, "documents"),
        _artifact_path("pair_dist", sf_dir),
        n=3, max_df=64,
        source_id=_source_id(sf_dir, "documents"), rebuild=True,
    )


def _rebuild_ivf(spark, sf_dir: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    similarity.ivf_build(
        emb, _artifact_path("ivf_index", sf_dir), nlist=16,
        source_id=_source_id(sf_dir), rebuild=True,
    )


def _rebuild_pq(spark, sf_dir: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    similarity.pq_build(
        emb, _artifact_path("pq_index", sf_dir), m=8, ksub=16,
        source_id=_source_id(sf_dir), rebuild=True,
    )


def _rebuild_ivfpq(spark, sf_dir: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    similarity.ivfpq_build(
        emb, _artifact_path("ivfpq_index", sf_dir), nlist=16, m=8, ksub=16,
        source_id=_source_id(sf_dir), rebuild=True,
    )


def _rebuild_lsh_index(spark, sf_dir: str) -> None:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    similarity.lsh_index_build(
        emb, _artifact_path("lsh_index", sf_dir), nbits=8, tables=4,
        source_id=_source_id(sf_dir), rebuild=True,
    )


#: Force-rebuild hooks for every persisted artifact the registered
#: queries consume, with the EXACT parameters the consuming queries
#: use. scale_probe.py times these per scale: marker idempotence means
#: a build otherwise lands only in the first timed run and the
#: median-of-3 drops it, so without explicit build timing a superlinear
#: build would read as linear in the probe artifact (ADVICE r8).
ARTIFACT_BUILDS = {
    "minhash_qc": _rebuild_minhash_qc,
    "pair_distribution": _rebuild_pair_distribution,
    "ivf_index": _rebuild_ivf,
    "pq_index": _rebuild_pq,
    "ivfpq_index": _rebuild_ivfpq,
    "lsh_index": _rebuild_lsh_index,
}

#: Which persisted artifacts each registered query consumes (queries
#: not listed build nothing). Kept next to ARTIFACT_BUILDS so adding a
#: consumer is a one-line diff in the same place.
ARTIFACT_CONSUMERS: dict[str, tuple[str, ...]] = {
    "ns_jaccard_neardup": ("minhash_qc",),
    "ns_minhash_lsh_neardup": ("minhash_qc",),
    "ns_dedup_clusters": ("minhash_qc",),
    "ns_dedup_sweep": ("minhash_qc",),
    "ns_minhash_recall": ("minhash_qc",),
    "ns_minhash_estimate_error": ("minhash_qc",),
    "ns_minhash_prod_mode": ("minhash_qc",),
    "ns_containment_neardup": ("pair_distribution",),
    "ns_lsh_band_tuning": ("pair_distribution",),
    "ns_simhash_radius_tuning": ("pair_distribution",),
    "ns_decontaminate": ("pair_distribution",),
    "ns_ivf_probe": ("ivf_index",),
    "ns_pq_probe": ("pq_index",),
    "ns_ivfpq_probe": ("pq_index", "ivfpq_index"),
    "ns_lsh_probe": ("lsh_index",),
}


def _sql_list(vec: list[float]) -> str:
    """A float64 list literal whose DuckDB parse round-trips to the exact
    same doubles Python embeds in the Spark plan (repr is shortest
    round-trip decimal)."""
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]"


def _minhash_pairs_cte(*, num_hashes: int = 64, bands: int = 16, threshold: float = 0.7) -> str:
    """CTE chain computing MinHash-LSH near-dup pairs in DuckDB with the
    exact hash family the Spark operator uses (md5_32 base + affine maps
    over the Mersenne prime). Band membership is compared by the banded
    row values themselves (string_agg) — equality semantics identical to
    Spark's xxhash64 band key."""
    rows = num_hashes // bands
    ab_rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(affine_params(num_hashes))
    )
    hb = f"({sql_md5_int('shingle')} % {MERSENNE31})"
    return f"""
    toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    ab(i, a, b) AS (SELECT * FROM (VALUES {ab_rows}) v(i, a, b)),
    hs AS (
        SELECT doc_id, ab.i AS i,
               MIN((ab.a * {hb} + ab.b) % {MERSENNE31}) AS mh
        FROM sh CROSS JOIN ab
        GROUP BY doc_id, ab.i
    ),
    bands AS (
        SELECT doc_id, i // {rows} AS band,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bsig
        FROM hs GROUP BY doc_id, i // {rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    mm AS (
        SELECT c.id_a, c.id_b,
               SUM(CASE WHEN ha.mh = hb2.mh THEN 1 ELSE 0 END) AS m
        FROM cand c
        JOIN hs ha  ON ha.doc_id = c.id_a
        JOIN hs hb2 ON hb2.doc_id = c.id_b AND hb2.i = ha.i
        GROUP BY c.id_a, c.id_b
    ),
    mh_pairs AS (
        SELECT id_a, id_b, ROUND(m / {num_hashes}.0, 6) AS est_jaccard
        FROM mm WHERE m / {num_hashes}.0 >= {threshold}
    )"""


def _lsh_sig_sql(t: int, emb_expr: str = "e.embedding", *, nbits: int = 8, seed: int = 42) -> str:
    """Signature of LSH table ``t`` as a SQL expression: sign bits of
    dots with the same seed-derived hyperplanes the Spark UDF embeds."""
    planes = similarity.random_hyperplanes(_EMB_DIM, nbits, seed=seed + t)
    bits = " + ".join(
        f"CASE WHEN ROUND(list_dot_product(CAST({emb_expr} AS DOUBLE[]), "
        f"CAST({_sql_list(p)} AS DOUBLE[])), 6) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"CAST({bits} AS BIGINT)"


def _lsh_sigs_cte(*, tables: int = 4, nbits: int = 8, seed: int = 42) -> str:
    """(vec_id, tbl, sig) for every vector and LSH table."""
    selects = "\n        UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_lsh_sig_sql(t, nbits=nbits, seed=seed)} AS sig "
        f"FROM embeddings e"
        for t in range(tables)
    )
    return f"sigs AS (\n        {selects}\n    )"


def _ivf_cte(*, nlist: int = 16, nprobe: int = 4, seed: int = 777) -> str:
    """IVF assignment + probe-cell selection against the fixed
    deterministic quantizer. Cell = argmax of round(dot, 6) with
    first-index tiebreak — exactly the Spark ivf_assign_fixed rule."""
    cents = similarity.fixed_centroids(_EMB_DIM, nlist=nlist, seed=seed)
    cent_rows = ", ".join(
        f"({j}, CAST({_sql_list(c)} AS DOUBLE[]))" for j, c in enumerate(cents)
    )
    return f"""
    cents(cell, cv) AS (SELECT * FROM (VALUES {cent_rows}) v(cell, cv)),
    dots AS (
        SELECT e.vec_id, c.cell,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS d
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id <> 0
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, cell) AS rn
            FROM dots
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT c.cell,
               ROUND(list_dot_product(
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0),
                   c.cv), 6) AS d
        FROM cents c
    ),
    probes AS (
        SELECT cell FROM (
            SELECT cell, ROW_NUMBER() OVER (ORDER BY d DESC, cell) AS rn FROM qd
        ) WHERE rn <= {nprobe}
    )"""


#: Exact cosine of e.embedding against q.qv — the fold DuckDB shares
#: with Spark's cosine() (proven hash-match pattern from r1).
_COSINE_EQ = """list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""


@query(
    "ns_dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS kept_id,
           COUNT(*)    AS dup_count
    FROM documents
    GROUP BY fp
    ORDER BY kept_id
    """,
    "Exact dedup via content fingerprint: hash-groupBy, min-id survivor, "
    "duplicate counts. Shuffles 32-byte keys, not document bodies.",
)
def ns_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact_summary(docs).orderBy("kept_id")


@query(
    "ns_dedup_incremental",
    """
    WITH seen AS (
        SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    batch_dedup AS (
        SELECT b.* FROM batch b
        JOIN (SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     MIN(doc_id) AS kept
              FROM batch GROUP BY fp) k
          ON b.doc_id = k.kept
    )
    SELECT doc_id, source
    FROM batch_dedup
    WHERE md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
          NOT IN (SELECT fp FROM seen)
    ORDER BY doc_id
    """,
    "Incremental dedup — the continuously-arriving-data shape: odd-id "
    "docs are the new batch, even-id docs the already-seen corpus; "
    "batch self-dedup (min-id survivor) then fingerprint anti-join "
    "against the seen set.",
)
def ns_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seen = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(text.fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    batch = docs.where(F.col("doc_id") % 2 == 1)
    novel, _new_fps = dedup.dedup_incremental(batch, seen)
    return novel.select("doc_id", "source").orderBy("doc_id")


@query(
    "ns_jaccard_neardup",
    """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh0 AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rare AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON id_a = ca.doc_id
    JOIN cnt cb ON id_b = cb.doc_id
    WHERE ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) >= 0.8
    ORDER BY id_a, id_b
    """,
    "Exact 3-gram Jaccard near-duplicate pairs via inverted-index "
    "self-join — the verify path for near-dedup, served by filtering "
    "the persisted QC artifact's exact_pairs frame at 0.8 (row-identical "
    "to a direct build: both compare the same round(j,6) values). "
    "max_df=64 stop-shingle guard bounds the worst join bucket: without "
    "it the 10x scale probe measured quadratic pair mass (253M rows "
    "from 50k docs) because a saturated shingle vocabulary puts every "
    "doc pair in some bucket; at the oracle/bench SFs the max df is "
    "7/25 so results are unchanged by the cap.",
)
def ns_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The persisted QC artifact stores exactly this pair set (n=3,
    # max_df=64) down to jaccard >= 0.2; filtering the rounded column
    # at 0.8 is row-identical to a direct jaccard_pairs build (both
    # compare the SAME round(j, 6) values) and skips pair re-discovery.
    exact, _ = _minhash_qc_tables(spark, sf_dir)
    return exact.where(F.col("jaccard") >= 0.8).orderBy("id_a", "id_b")


@query(
    "ns_containment_neardup",
    """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh0 AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rare AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairboth AS (
        SELECT id_a, id_b, i, ca.n_sh AS n_a, cb.n_sh AS n_b
        FROM inter
        JOIN cnt ca ON id_a = ca.doc_id
        JOIN cnt cb ON id_b = cb.doc_id
    ),
    directed AS (
        SELECT id_a AS id, id_b AS other, ROUND(i * 1.0 / n_a, 6) AS containment
        FROM pairboth
        UNION ALL
        SELECT id_b AS id, id_a AS other, ROUND(i * 1.0 / n_b, 6) AS containment
        FROM pairboth
    )
    SELECT id, other, containment FROM directed
    WHERE containment >= 0.5
    ORDER BY id, other
    """,
    "Directed shingle containment |sh(A) ∩ sh(B)| / |sh(A)| — the "
    "asymmetric near-dup test: a short document embedded in a long one "
    "has containment 1.0 but arbitrarily low Jaccard, so this catches "
    "doc-inside-doc duplication ns_jaccard_neardup structurally "
    "cannot. Both directions derive from the persisted "
    "planner-calibration artifact's raw intersection statistics "
    "(inter, n_a, n_b — same inverted-index discovery, hashed "
    "shingles, one build per corpus snapshot). max_df=64 stop-shingle "
    "guard bounds the worst bucket (see ns_jaccard_neardup); no-op at "
    "oracle/bench SFs, linearizes the 10x probe (was 12.5x time at "
    "10x data without it).",
)
def ns_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Directed containment derives from the SAME raw intersection
    # statistics the planner-calibration artifact persists
    # ((inter, n_a, n_b) — identical index construction, same max_df
    # cap): i/n_a and i/n_b with the same rounding, so the rows are
    # identical to a direct containment_pairs build and pair discovery
    # runs once per corpus snapshot across every consumer.
    both = _pair_distribution_table(spark, sf_dir)
    fwd = both.select(
        F.col("id_a").alias("id"),
        F.col("id_b").alias("other"),
        F.round(F.col("inter") / F.col("n_a"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("id"),
        F.col("id_a").alias("other"),
        F.round(F.col("inter") / F.col("n_b"), 6).alias("containment"),
    )
    return (
        fwd.unionAll(rev)
        .where(F.col("containment") >= 0.5)
        .orderBy("id", "other")
    )


@query(
    "ns_minhash_lsh_neardup",
    f"""
    WITH {_minhash_pairs_cte()}
    SELECT id_a, id_b, est_jaccard FROM mh_pairs ORDER BY id_a, id_b
    """,
    "MinHash(64) + LSH(16 bands) near-dup candidate pairs — the linear "
    "discovery path at 100 TB, banding the persisted QC signatures "
    "(built once per corpus snapshot) instead of re-hashing the corpus. "
    "Hash family is md5-derived (affine maps over a Mersenne prime), so "
    "the oracle re-derives identical signatures; also verified against "
    "exact Jaccard in tests.",
)
def ns_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Consume the persisted md5-family signatures (num_hashes=64, n=3,
    # seed 42 — minhash_lsh_pairs' exact parameters) and run only the
    # banding half: identical candidate pairs, one signature build per
    # corpus snapshot instead of per query.
    _, sigs = _minhash_qc_tables(spark, sf_dir)
    return dedup.minhash_band_pairs(
        sigs, num_hashes=64, bands=16, threshold=0.7
    ).orderBy("id_a", "id_b")


@query(
    "ns_dedup_clusters",
    f"""
    WITH RECURSIVE {_minhash_pairs_cte()},
    edges AS (
        SELECT id_a AS a, id_b AS b FROM mh_pairs
        UNION ALL
        SELECT id_b, id_a FROM mh_pairs
    ),
    reach AS (
        SELECT DISTINCT a AS id, a AS r FROM edges
        UNION
        SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
    "Connected components over the MinHash near-dup pair graph "
    "(banded from the persisted QC signatures): pairwise candidates "
    "become dedup groups (cluster_id = min doc id in the component). "
    "O(log diameter) join+agg rounds with pointer jumping, no driver "
    "state; the oracle recomputes the same pair graph and closes it "
    "with a recursive CTE.",
)
def ns_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same signature reuse as ns_minhash_lsh_neardup: the pair graph is
    # minhash_band_pairs over the persisted QC signatures (identical to
    # minhash_lsh_pairs' output — same hashes, bands, threshold).
    _, sigs = _minhash_qc_tables(spark, sf_dir)
    pairs = dedup.minhash_band_pairs(
        sigs, num_hashes=64, bands=16, threshold=0.7
    )
    return dedup.dedup_clusters(pairs).orderBy("doc_id")


@query(
    "ns_simhash_neardup",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '')) AS tok
        FROM documents
    ),
    th AS (SELECT doc_id, {sql_md5_int('tok', hex_chars=15)} AS h FROM toks),
    bs AS (
        SELECT doc_id, g.i AS i, COUNT(*) AS n, SUM((h >> g.i) & 1) AS s
        FROM th CROSS JOIN UNNEST(generate_series(0, 59)) AS g(i)
        GROUP BY doc_id, g.i
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN 2 * s > n THEN (CAST(1 AS BIGINT) << i)
                             ELSE 0 END) AS BIGINT) AS sh
        FROM bs GROUP BY doc_id
    ),
    blk AS (
        SELECT doc_id, sh, b.j AS blk, (sh >> (b.j * 15)) & 32767 AS bv
        FROM sig CROSS JOIN UNNEST(generate_series(0, 3)) AS b(j)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, a.sh AS sh_a,
                        b.doc_id AS id_b, b.sh AS sh_b
        FROM blk a JOIN blk b
          ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    ORDER BY id_a, id_b
    """,
    "SimHash(60-bit, md5-derived) near-dup pairs within Hamming "
    "distance 3, discovered by 15-bit block banding (pigeonhole). The "
    "oracle recomputes identical sketches from the same md5 slices.",
)
def ns_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_distance=3).orderBy("id_a", "id_b")


@query(
    "ns_embedding_neardup",
    """
    WITH n1 AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    nv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS nv
        FROM n1
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.nv, b.nv),
                        p -> p[1] * p[2])) AS sim
        FROM nv a JOIN nv b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(sim, 6) AS sim
    FROM pairs
    WHERE sim >= 0.4
    ORDER BY id_a, id_b
    """,
    "Embedding-cosine near-duplicate pairs (exact all-pairs, the verify "
    "path): unit-normalize once, one dot-product fold per pair. The "
    "testdata embeddings are random gaussians, so 0.4 is the "
    "'near' threshold that exercises the operator.",
)
def ns_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # num_blocks passed explicitly: no count() pre-scan in the plan path
    # (at scale this comes from catalog stats / a caller estimate).
    return similarity.cosine_pairs(emb, threshold=0.4, num_blocks=16).orderBy(
        "id_a", "id_b"
    )


@query(
    "ns_embedding_neardup_lsh",
    f"""
    WITH {_lsh_sigs_cte()},
    n1 AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    nv AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS nv
        FROM n1
    ),
    bsz AS (
        SELECT tbl, sig FROM sigs GROUP BY tbl, sig HAVING COUNT(*) <= 64
    ),
    sigs_k AS (
        SELECT s.* FROM sigs s JOIN bsz USING (tbl, sig)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sigs_k a JOIN sigs_k b
          ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               list_sum(list_transform(list_zip(na.nv, nb.nv),
                        p -> p[1] * p[2])) AS sim
        FROM cand c
        JOIN nv na ON na.vec_id = c.id_a
        JOIN nv nb ON nb.vec_id = c.id_b
    )
    SELECT id_a, id_b, ROUND(sim, 6) AS sim
    FROM scored WHERE sim >= 0.35
    ORDER BY id_a, id_b
    """,
    "Embedding-cosine near-dup via LSH banding (seed-derived "
    "hyperplanes, 4 tables x 8 bits): the linear discovery path — only "
    "same-bucket vectors are ever compared; exact cosine scores the "
    "survivors, and buckets above max_bucket=64 rows are dropped "
    "before the self-join (the max_df contract on signatures), so "
    "candidate count is <= n*tables*64 — linear in n. The oracle "
    "embeds the same hyperplane literals, re-derives the same buckets, "
    "and applies the same cap.",
)
def ns_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_lsh(emb, threshold=0.35).orderBy(
        "id_a", "id_b"
    )


@query(
    "ns_text_stats",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                                    w -> w <> ''))) AS BIGINT) AS total_words,
           ROUND(AVG(length(text)), 4) AS avg_chars,
           CAST(SUM(len(regexp_extract_all(text,
                '[A-Za-z0-9_]+|[^\\sA-Za-z0-9_]'))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    "Corpus text statistics per source: char/word/BPE-ish token counts "
    "(token counting uses the same regex in both engines).",
)
def ns_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(c)).alias("total_chars"),
            F.sum(text.word_count(c)).alias("total_words"),
            F.round(F.avg(F.length(c)), 4).alias("avg_chars"),
            F.sum(text.token_count(c)).alias("total_tokens"),
        )
        .orderBy("source")
    )


@query(
    "ns_lang_id",
    f"""
    WITH scored AS (
        SELECT lang,
               len(regexp_extract_all(text, '\\b({_SW["de"]})\\b')) AS h_de,
               len(regexp_extract_all(text, '\\b({_SW["en"]})\\b')) AS h_en,
               len(regexp_extract_all(text, '\\b({_SW["es"]})\\b')) AS h_es,
               len(regexp_extract_all(text, '\\b({_SW["fr"]})\\b')) AS h_fr
        FROM documents
    ),
    pred2 AS (
        SELECT lang,
               CASE
                 WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                 WHEN h_en > h_de AND h_en >= h_es AND h_en >= h_fr THEN 'en'
                 WHEN h_es > h_de AND h_es > h_en AND h_es >= h_fr THEN 'es'
                 WHEN h_fr > h_de AND h_fr > h_en AND h_fr > h_es THEN 'fr'
                 ELSE 'de'
               END AS lang_pred
        FROM scored
    )
    SELECT lang, lang_pred, COUNT(*) AS n
    FROM pred2
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
    "Stopword-signature language ID (confusion counts vs the labeled "
    "lang column). Ties resolve to the earlier language in scan order "
    "de<en<es<fr via strictly-greater comparisons — same rule in both.",
)
def ns_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the 4-language stopword regex sweep is the cost; a single-
    # row-group parquet scan would serialize it on one core.
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("lang", text.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


@query(
    "ns_quality_score",
    f"""
    WITH q AS (
        SELECT source,
               len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS wc,
               length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace,
               length(regexp_replace(text, '[\\sA-Za-z0-9_]+', '', 'g')) AS punct,
               len(regexp_extract_all(text, '\\b({_SW["en"]})\\b')) AS sw
        FROM documents
    )
    SELECT source,
           ROUND(AVG(ROUND((
               least(wc / 100.0, 1.0)
               + (1 - least(CASE WHEN nonspace > 0
                                 THEN punct * 1.0 / nonspace ELSE 0 END * 2.0, 1.0))
               + least(CASE WHEN wc > 0 THEN sw * 1.0 / wc ELSE 0 END * 5.0, 1.0)
           ) / 3.0, 6)), 6) AS avg_quality,
           COUNT(*) AS n_docs
    FROM q
    GROUP BY source
    ORDER BY source
    """,
    "Heuristic quality scoring (length/punctuation/stopword ratios) "
    "averaged per source — the corpus-filtering signal.",
)
def ns_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("source", text.quality_score(F.col("text")).alias("q"))
        .groupBy("source")
        .agg(F.round(F.avg("q"), 6).alias("avg_quality"), F.count("*").alias("n_docs"))
        .orderBy("source")
    )


@query(
    "ns_token_entropy",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    hh AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM toks
    ),
    cnt AS (SELECT doc_id, h, COUNT(*) AS c FROM hh GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4)
               AS ttr,
           ROUND(ln(CAST(SUM(c) AS DOUBLE))
                 - SUM(c * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE),
                 4) AS entropy
    FROM cnt GROUP BY doc_id
    ORDER BY doc_id
    """,
    "Per-document lexical diversity: token count, type count, type-"
    "token ratio and Shannon entropy (nats) of the token distribution "
    "— the perplexity-proxy quality gate. Tokens hash to 60-bit md5 "
    "ints before the count shuffle (8-byte exchange keys, never token "
    "strings); the per-doc reduce is vocabulary-sized.",
)
def ns_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return text.token_entropy(docs).orderBy("doc_id")


@query(
    "ns_stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(concat('0x', substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000
          < CASE lang WHEN 'fr' THEN 3000 WHEN 'es' THEN 2000
                      WHEN 'de' THEN 1000 WHEN 'en' THEN 500 ELSE 0 END
    ORDER BY doc_id
    """,
    "Deterministic stratified sampling: membership is a pure function of "
    "(seed, doc_id) via an md5 bucket — stable across runs, engines, and "
    "partitionings, unlike RNG-based df.sample. Rates per language "
    "stratum (upweighting rarer languages), re-derived bit-identically "
    "by the SQL oracle.",
)
def ns_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_hash_sample(
            docs,
            key_col="doc_id",
            stratum_col="lang",
            fractions={"fr": 0.3, "es": 0.2, "de": 0.1, "en": 0.05},
            seed=42,
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "ns_tfidf_topterms",
    """
    WITH toks AS (
        SELECT doc_id, source, lower(w) AS term
        FROM documents,
             UNNEST(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '')) AS t(w)
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM toks),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY source, term),
    scored AS (
        SELECT tf.source, tf.term,
               ROUND(tf.tf * ln(n_docs.n * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term), n_docs
    )
    SELECT source, term, tfidf, rnk FROM (
        SELECT source, term, tfidf,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY tfidf DESC, term) AS INT) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    ORDER BY source, rnk
    """,
    "TF-IDF top-5 terms per source: token explode, corpus document "
    "frequency (distinct-doc agg), per-source term frequency, windowed "
    "top-k. The shuffles carry (term, count) pairs, never documents; "
    "the df side joins broadcast at any corpus size with a vocab cap.",
)
def ns_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from takuan_zoo.operators.skew import materialize

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(text.words(F.col("text"))).alias("w"),
    ).select("doc_id", "source", F.lower("w").alias("term"))
    # One tokenize+explode+shuffle, then three cheap derivations. The
    # (term, doc_id) frame feeds n_docs, df AND tf; without materialize
    # Catalyst re-runs the explode per branch (3 full scans).
    base = materialize(
        toks.groupBy("term", "doc_id", "source").agg(F.count("*").alias("cnt"))
    )
    # In-plan corpus size: a 1-row aggregate cross-joined (broadcast)
    # into the scoring projection — no driver-side count() action, no
    # extra pass over the exploded tokens (r1 verdict, What's-wrong #3).
    n_docs = base.agg(F.countDistinct("doc_id").cast("double").alias("_n"))
    # base is already distinct per (term, doc_id): df = row count per term
    df = base.groupBy("term").agg(F.count("*").alias("df"))
    tf = base.groupBy("source", "term").agg(F.sum("cnt").alias("tf"))
    scored = tf.join(df, "term").crossJoin(F.broadcast(n_docs)).select(
        "source",
        "term",
        F.round(
            F.col("tf") * F.log(F.col("_n") / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("source", "term", "tfidf", "rnk")
        .orderBy("source", "rnk")
    )


@query(
    "ns_winnow_fingerprint",
    """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                                        1, 8)) AS BIGINT) AS h
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM grams
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(SUM(fp % 1000003) AS BIGINT) AS fp_sum
    FROM sel
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "Winnowing fingerprints (MOSS rolling-hash scheme): per-position "
    "3-gram hashes, window-of-4 minima, distinct selected prints. "
    "Robust to local edits, unlike the whole-document md5. Output "
    "summarises the per-doc fingerprint set (count + modular sum).",
)
def ns_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    fps = text.winnow_fingerprints(docs, n=3, window=4)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fps"),
            F.sum(F.col("fp") % 1000003).alias("fp_sum"),
        )
        .orderBy("doc_id")
    )


@query(
    "ns_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    ORDER BY doc_id
    """,
    "Deterministic per-document fingerprint (md5 of normalized text) — "
    "the join key for cross-corpus exact dedup.",
)
def ns_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


@query(
    "ns_similarity_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id,
               list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        FROM embeddings e, q
        WHERE vec_id <> 0
    )
    SELECT vec_id, ROUND(sim, 6) AS sim
    FROM scored
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
    "Brute-force cosine top-10 against a query vector (vec_id=0): the "
    "exact ANN baseline. float64 element math in both engines.",
)
def ns_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.cosine_topk(emb.where(F.col("vec_id") != 0), qvec, k=10)


#: Oracle shared by the inline and persisted-index LSH top-k queries —
#: the persisted probe must return exactly what the inline query returns.
_LSH_TOPK_SQL = f"""
    WITH {_lsh_sigs_cte()},
    qsig AS (SELECT tbl, sig FROM sigs WHERE vec_id = 0),
    cand AS (
        SELECT DISTINCT s.vec_id
        FROM sigs s JOIN qsig ON s.tbl = qsig.tbl
        WHERE s.vec_id <> 0 AND bit_count(xor(s.sig, qsig.sig)) <= 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, {_COSINE_EQ} AS sim
        FROM embeddings e JOIN cand USING (vec_id), q
    )
    SELECT vec_id, ROUND(sim, 6) AS sim
    FROM scored
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """


@query(
    "ns_lsh_similarity_topk",
    _LSH_TOPK_SQL,
    "LSH (seed-derived hyperplanes, 4 tables x 8 bits, Hamming<=1 "
    "multiprobe) bucketed cosine top-10 — the partition-prunable ANN "
    "scale path. The oracle re-derives the same signatures from the "
    "same hyperplane literals; planted-neighbor recall pinned in tests.",
)
def ns_lsh_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.lsh_bucketed_topk(
        emb.where(F.col("vec_id") != 0),
        qvec,
        k=10,
        nbits=8,
        tables=4,
        hamming_radius=1,
    )


@query(
    "ns_lsh_probe",
    _LSH_TOPK_SQL,
    "Persisted-LSH probe: signatures are stored columns, the corpus is "
    "written partitioned by (table, signature bucket), and the probe "
    "reads only the query's Hamming-ball buckets — tables*(1+nbits) "
    "directories out of tables*2^nbits, pruned at file-listing time. "
    "Same result (and same oracle) as the inline ns_lsh_similarity_topk.",
)
def ns_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    path = f"{_SCRATCH}/lsh_index_{sf_dir.strip('/').split('/')[-1]}"
    similarity.lsh_index_build(
        emb.where(F.col("vec_id") != 0), path, nbits=8, tables=4,
        source_id=_source_id(sf_dir),
    )
    return similarity.lsh_index_probe(
        spark, path, qvec, k=10, nbits=8, tables=4, hamming_radius=1
    )


#: Oracle shared by the inline and persisted-index IVF queries.
_IVF_TOPK_SQL = f"""
    WITH {_ivf_cte()},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id, {_COSINE_EQ} AS sim
        FROM embeddings e
        JOIN assign a ON a.vec_id = e.vec_id
        JOIN probes p ON p.cell = a.cell, q
    )
    SELECT vec_id, ROUND(sim, 6) AS sim
    FROM scored
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """


@query(
    "ns_ivf_topk",
    _IVF_TOPK_SQL,
    "IVF ANN top-10 (fixed deterministic coarse quantizer, nlist=16, "
    "nprobe=4): score only the 4 cells nearest the query. No index fit "
    "inside the query (the r1 perf complaint); the oracle embeds the "
    "same centroid literals and re-derives identical cell assignments.",
)
def ns_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.ivf_topk_fixed(
        emb.where(F.col("vec_id") != 0), qvec, k=10, nlist=16, nprobe=4
    )


@query(
    "ns_ivf_probe",
    _IVF_TOPK_SQL,
    "Persisted-IVF probe: the corpus is written partitioned by quantizer "
    "cell (ivf_build); the probe reads only the nprobe nearest cells' "
    "directories — real partition pruning, asserted in tests/test_plans. "
    "Same result (and same oracle) as the inline ns_ivf_topk.",
)
def ns_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    path = f"{_SCRATCH}/ivf_index_{sf_dir.strip('/').split('/')[-1]}"
    similarity.ivf_build(
        emb.where(F.col("vec_id") != 0), path, nlist=16,
        source_id=_source_id(sf_dir),
    )
    return similarity.ivf_probe(spark, path, qvec, k=10, nlist=16, nprobe=4)


@query(
    "ns_knn_join",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
    scored AS (
        SELECT q.q_id, e.vec_id,
               ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
        FROM embeddings e, q
    )
    SELECT q_id, vec_id, sim, rnk FROM (
        SELECT q_id, vec_id, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY sim DESC, vec_id) AS INT) AS rnk
        FROM scored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk
    """,
    "Brute-force k-NN join: top-5 neighbors (self included, rank 1) for "
    "each of 3 query vectors (broadcast queries, windowed rank).",
)
def ns_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3)
    return (
        similarity.knn_join(emb, queries, k=5)
        .withColumnRenamed("rank", "rnk")
        .orderBy("q_id", "rnk")
    )


@query(
    "ns_embedding_centroids",
    f"""
    SELECT label,
           CAST(g.i - 1 AS INT) AS pos,
           ROUND(AVG(CAST(embedding[g.i] AS DOUBLE)), 6) AS mean_val,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM embeddings, UNNEST(generate_series(1, {_EMB_DIM})) AS g(i)
    GROUP BY label, g.i
    ORDER BY label, pos
    """,
    "Per-label embedding centroids (class prototypes): element-wise "
    "mean over each label's vectors, flattened to (label, pos, mean) "
    "rows. posexplode + two-key hash agg — the shuffle carries one "
    "partial sum per (label, dim), independent of corpus size; the "
    "centroid table this produces is the nearest-class-mean classifier "
    "/ clustering seed of an embedding pipeline.",
)
def ns_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        spread(emb)
        .select(
            "label",
            F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                "pos", "x"
            ),
        )
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_val"),
            F.count("*").alias("n"),
        )
        .orderBy("label", "pos")
    )


def _projection_matrix(out_dim: int = 16, in_dim: int = 64, seed: int = 99):
    """Deterministic unit-row projection matrix (seed-derived, embedded
    as literals in both the Spark UDF closure and the oracle SQL)."""
    return similarity.random_hyperplanes(in_dim, out_dim, seed=seed)


def _rp_oracle_sql(out_dim: int = 16) -> str:
    mat = _projection_matrix(out_dim=out_dim)
    exprs = ", ".join(
        "ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST({_sql_list(row)} AS DOUBLE[])), 6)"
        for row in mat
    )
    return f"""
    SELECT vec_id, CAST(g.i - 1 AS INT) AS pos, l[g.i] AS val
    FROM (SELECT vec_id, [{exprs}] AS l FROM embeddings),
         UNNEST(generate_series(1, {out_dim})) AS g(i)
    ORDER BY vec_id, pos
    """


@query(
    "ns_random_projection",
    _rp_oracle_sql(),
    "Dimensionality reduction by seed-derived random projection "
    "(64 -> 16 dims, Johnson-Lindenstrauss style): one Arrow-batched "
    "numpy GEMM per batch against the literal projection matrix — the "
    "cheap deterministic reduction applied before clustering/ANN when "
    "full-width vectors are too expensive to shuffle. The oracle embeds "
    "the same matrix literals; outputs flattened to (vec_id, pos, val).",
)
def ns_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    mat = np.array(_projection_matrix(), dtype=np.float64)  # 16 x 64

    @pandas_udf("array<double>")
    def project(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(list(np.round(x @ mat.T, 6)))

    return (
        spread(emb)
        .select("vec_id", F.posexplode(project("embedding")).alias("pos", "val"))
        .orderBy("vec_id", "pos")
    )


def _pq_cte(*, m: int = 8, ksub: int = 16, seed: int = 4242) -> str:
    """PQ codebook + assignment + query distance table against the
    seed-derived codebooks. Code = argmin of round(||sub - c||^2, 6)
    with first-index tiebreak — exactly similarity.pq_encode's rule
    (the IVF determinism discipline, argmin instead of argmax)."""
    cbs = similarity.pq_codebooks(_EMB_DIM, m=m, ksub=ksub, seed=seed)
    dsub = _EMB_DIM // m
    rows = ", ".join(
        f"({i}, {j}, CAST({_sql_list(c)} AS DOUBLE[]))"
        for i, cb in enumerate(cbs)
        for j, c in enumerate(cb)
    )
    sq = "p -> (p[1]-p[2])*(p[1]-p[2])"
    sub_slice = f"list_slice(CAST(e.embedding AS DOUBLE[]), cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})"
    q_slice = (
        f"list_slice((SELECT CAST(embedding AS DOUBLE[]) FROM embeddings "
        f"WHERE vec_id = 0), cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})"
    )
    return f"""
    pqcb(sub, code, cv) AS (SELECT * FROM (VALUES {rows}) v(sub, code, cv)),
    dists AS (
        SELECT e.vec_id, cb.sub, cb.code,
               ROUND(list_sum(list_transform(list_zip({sub_slice}, cb.cv),
                     {sq})), 6) AS d
        FROM embeddings e CROSS JOIN pqcb cb
        WHERE e.vec_id <> 0
    ),
    assign AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, code) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    qd AS (
        SELECT cb.sub, cb.code,
               list_sum(list_transform(list_zip({q_slice}, cb.cv), {sq})) AS d
        FROM pqcb cb
    )"""


_PQ_TOPK_SQL = f"""
    WITH {_pq_cte()}
    SELECT a.vec_id, ROUND(SUM(qd.d), 6) AS adist
    FROM assign a JOIN qd ON a.sub = qd.sub AND a.code = qd.code
    GROUP BY a.vec_id
    ORDER BY adist, a.vec_id
    LIMIT 10
    """


@query(
    "ns_pq_topk",
    _PQ_TOPK_SQL,
    "Product-quantization ANN top-10 (m=8 subspaces x 16 codes, "
    "seed-derived codebooks): vectors compress to 8 small ints; the "
    "query ranks by asymmetric-distance lookups against an 8x16 literal "
    "table — pure codegen, no raw vectors touched at query time. The "
    "oracle re-derives identical codes from the same centroid literals.",
)
def ns_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.pq_topk(
        emb.where(F.col("vec_id") != 0), qvec, k=10, m=8, ksub=16
    )


@query(
    "ns_pq_probe",
    _PQ_TOPK_SQL,
    "Persisted-PQ probe: the corpus is encoded once into an (id, codes) "
    "table — m small ints per vector, ~32x smaller than the float32 "
    "embeddings — and the probe scans codes ONLY (no embedding column "
    "in the ReadSchema), scoring by the literal ADC table. Same result "
    "(and same oracle) as the inline ns_pq_topk.",
)
def ns_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    path = f"{_SCRATCH}/pq_index_{sf_dir.strip('/').split('/')[-1]}"
    similarity.pq_build(
        emb.where(F.col("vec_id") != 0), path, m=8, ksub=16,
        source_id=_source_id(sf_dir),
    )
    return similarity.pq_probe(spark, path, qvec, k=10, m=8, ksub=16)

@query(
    "ns_pq_rerank",
    f"""
    WITH {_pq_cte()},
    adist AS (
        SELECT a.vec_id, ROUND(SUM(qd.d), 6) AS adist
        FROM assign a JOIN qd ON a.sub = qd.sub AND a.code = qd.code
        GROUP BY a.vec_id
    ),
    cand AS (
        SELECT vec_id FROM adist ORDER BY adist, vec_id LIMIT 50
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, ROUND({_COSINE_EQ}, 6) AS sim
    FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id, q
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
    "Two-stage retrieval (the standard ANN deployment): PQ/ADC narrows "
    "to 50 candidate ids in the compressed domain, exact cosine "
    "re-ranks only those 50 raw vectors — the float math never touches "
    "the corpus. Candidate set and re-rank are both deterministic, so "
    "the full chain is hash-checked.",
)
def ns_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.pq_rerank_topk(
        emb.where(F.col("vec_id") != 0), qvec, k=10, candidates=50
    )

def _ivfpq_sql(*, nlist: int = 16, nprobe: int = 4, m: int = 8,
               ksub: int = 16, ivf_seed: int = 777, pq_seed: int = 4242) -> str:
    """Composite IVF+PQ oracle: coarse-cell assignment/probe selection
    (the _ivf_cte rules) AND per-subspace code assignment (the _pq_cte
    rules), renamed to coexist, then ADC restricted to probed cells."""
    cents = similarity.fixed_centroids(_EMB_DIM, nlist=nlist, seed=ivf_seed)
    cent_rows = ", ".join(
        f"({j}, CAST({_sql_list(c)} AS DOUBLE[]))" for j, c in enumerate(cents)
    )
    cbs = similarity.pq_codebooks(_EMB_DIM, m=m, ksub=ksub, seed=pq_seed)
    dsub = _EMB_DIM // m
    cb_rows = ", ".join(
        f"({i}, {j}, CAST({_sql_list(c)} AS DOUBLE[]))"
        for i, cb in enumerate(cbs)
        for j, c in enumerate(cb)
    )
    sq = "p -> (p[1]-p[2])*(p[1]-p[2])"
    sub_slice = f"list_slice(CAST(e.embedding AS DOUBLE[]), cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})"
    q_slice = (
        f"list_slice((SELECT CAST(embedding AS DOUBLE[]) FROM embeddings "
        f"WHERE vec_id = 0), cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})"
    )
    return f"""
    WITH cents(cell, cv) AS (SELECT * FROM (VALUES {cent_rows}) v(cell, cv)),
    cdots AS (
        SELECT e.vec_id, c.cell,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS d
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id <> 0
    ),
    cassign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, cell) AS rn
            FROM cdots
        ) WHERE rn = 1
    ),
    cqd AS (
        SELECT c.cell,
               ROUND(list_dot_product(
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0),
                   c.cv), 6) AS d
        FROM cents c
    ),
    probes AS (
        SELECT cell FROM (
            SELECT cell, ROW_NUMBER() OVER (ORDER BY d DESC, cell) AS rn FROM cqd
        ) WHERE rn <= {nprobe}
    ),
    pqcb(sub, code, cv) AS (SELECT * FROM (VALUES {cb_rows}) v(sub, code, cv)),
    pdists AS (
        SELECT e.vec_id, cb.sub, cb.code,
               ROUND(list_sum(list_transform(list_zip({sub_slice}, cb.cv),
                     {sq})), 6) AS d
        FROM embeddings e CROSS JOIN pqcb cb
        WHERE e.vec_id <> 0
    ),
    passign AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, code) AS rn
            FROM pdists
        ) WHERE rn = 1
    ),
    pqd AS (
        SELECT cb.sub, cb.code,
               list_sum(list_transform(list_zip({q_slice}, cb.cv), {sq})) AS d
        FROM pqcb cb
    )
    SELECT a.vec_id, ROUND(SUM(pqd.d), 6) AS adist
    FROM passign a
    JOIN cassign ca ON ca.vec_id = a.vec_id
    JOIN probes p ON p.cell = ca.cell
    JOIN pqd ON a.sub = pqd.sub AND a.code = pqd.code
    GROUP BY a.vec_id
    ORDER BY adist, a.vec_id
    LIMIT 10
    """


@query(
    "ns_ivfpq_probe",
    _ivfpq_sql(),
    "Composite IVF+PQ (FAISS IVFADC layout): the persisted index is "
    "(id, codes) partitioned by coarse cell; the probe prunes to "
    "nprobe=4 of 16 cell directories AND reads only m-byte codes inside "
    "them, ranking by the literal ADC table. Both scale levers stack; "
    "the oracle re-derives cells and codes from the same literals.",
)
def ns_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    path = f"{_SCRATCH}/ivfpq_index_{sf_dir.strip('/').split('/')[-1]}"
    similarity.ivfpq_build(
        emb.where(F.col("vec_id") != 0), path, nlist=16, m=8, ksub=16,
        source_id=_source_id(sf_dir),
    )
    return similarity.ivfpq_probe(
        spark, path, qvec, k=10, nlist=16, nprobe=4, m=8, ksub=16
    )


@query(
    "ns_length_outliers",
    """
    WITH m AS (SELECT quantile_cont(n_chars, 0.5) AS med FROM documents),
    d AS (
        SELECT doc_id, n_chars, abs(n_chars - m.med) AS dev
        FROM documents, m
    ),
    mad AS (SELECT quantile_cont(dev, 0.5) AS mad FROM d)
    SELECT doc_id, n_chars,
           ROUND((n_chars - m.med) / (1.4826 * mad.mad), 4) AS robust_z
    FROM documents, m, mad
    ORDER BY abs(ROUND((n_chars - m.med) / (1.4826 * mad.mad), 4)) DESC,
             doc_id
    LIMIT 10
    """,
    "Robust z-score length outliers (median/MAD, the curation gate "
    "that is not wrecked by the outliers it hunts — unlike mean/stddev "
    "z-scores): top-10 most deviant documents. Median and MAD are two "
    "scalar percentile aggregates broadcast back over the corpus; the "
    "top-k plans as TakeOrderedAndProject.",
)
def ns_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    med = docs.agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med")
    )
    dev = docs.crossJoin(F.broadcast(med)).withColumn(
        "dev", F.abs(F.col("n_chars") - F.col("med"))
    )
    mad = dev.agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    rz = F.round(
        (F.col("n_chars") - F.col("med")) / (F.lit(1.4826) * F.col("mad")), 4
    )
    return (
        docs.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select("doc_id", "n_chars", rz.alias("robust_z"))
        .orderBy(F.abs(F.col("robust_z")).desc(), F.col("doc_id"))
        .limit(10)
    )


@query(
    "ns_cluster_purity",
    f"""
    WITH {_ivf_cte()},
    lab AS (
        SELECT a.cell, e.label, COUNT(*) AS c
        FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY 1, 2
    ),
    tot AS (SELECT cell, CAST(SUM(c) AS BIGINT) AS n FROM lab GROUP BY 1),
    top AS (
        SELECT cell, label AS majority_label, c FROM (
            SELECT cell, label, c,
                   ROW_NUMBER() OVER (PARTITION BY cell
                                      ORDER BY c DESC, label) AS rn
            FROM lab
        ) WHERE rn = 1
    )
    SELECT t.cell, tot.n, t.majority_label,
           ROUND(CAST(t.c AS DOUBLE) / tot.n, 6) AS purity
    FROM top t JOIN tot ON tot.cell = t.cell
    ORDER BY t.cell
    """,
    "Label purity per embedding cluster (the fixed IVF quantizer's "
    "cells): majority label and its share — the diagnostic that tells "
    "a curation pipeline whether embedding clusters are clean enough "
    "to drive cluster-level decisions (SemDeDup cell sizing, cluster "
    "sampling). Assignment is the same one-GEMM Arrow pass the ANN "
    "family uses; the rest is two tiny hash aggregations.",
)
def ns_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from takuan_zoo.operators.skew import materialize

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    cents = similarity.fixed_centroids(_EMB_DIM, nlist=16, seed=777)
    assigned = similarity.ivf_assign_fixed(emb, cents)
    # (cell, label) counts feed both the total and the majority branch;
    # materialized so the assignment GEMM runs once.
    lab = materialize(
        assigned.groupBy("cell", "label").agg(F.count("*").alias("c"))
    )
    tot = lab.groupBy("cell").agg(F.sum("c").cast("bigint").alias("n"))
    w = Window.partitionBy("cell").orderBy(F.desc("c"), F.asc("label"))
    top = (
        lab.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cell", F.col("label").alias("majority_label"), "c")
    )
    return (
        top.join(tot, "cell")
        .select(
            "cell",
            "n",
            "majority_label",
            F.round(F.col("c") / F.col("n"), 6).alias("purity"),
        )
        .orderBy("cell")
    )


@query(
    "ns_winsorized_stats",
    """
    WITH b AS (
        SELECT quantile_cont(n_chars, 0.01) AS p01,
               quantile_cont(n_chars, 0.99) AS p99
        FROM documents
    ),
    w AS (
        SELECT source,
               least(greatest(CAST(n_chars AS DOUBLE), b.p01), b.p99) AS v
        FROM documents, b
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(v), 4) AS wins_mean,
           ROUND(stddev_samp(v), 4) AS wins_sd
    FROM w GROUP BY source ORDER BY source
    """,
    "Winsorized per-source length statistics: values clip to the "
    "corpus-global [p1, p99] before the mean/sd — the outlier-robust "
    "normalization a mixture-balancing pipeline feeds on (pairs with "
    "ns_length_outliers, which FLAGS what this CLIPS). Two scalar "
    "percentiles broadcast over one pass.",
)
def ns_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = docs.agg(
        F.percentile("n_chars", F.lit(0.01)).alias("p01"),
        F.percentile("n_chars", F.lit(0.99)).alias("p99"),
    )
    v = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("p01")),
        F.col("p99"),
    )
    return (
        docs.crossJoin(F.broadcast(b))
        .select("source", v.alias("v"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("v"), 4).alias("wins_mean"),
            F.round(F.stddev_samp("v"), 4).alias("wins_sd"),
        )
        .orderBy("source")
    )


@query(
    "ns_cluster_sample",
    f"""
    WITH {_ivf_cte()},
    ranked AS (
        SELECT a.cell, a.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a.cell
                   ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id
               ) AS rn
        FROM assign a
    )
    SELECT cell, vec_id FROM ranked WHERE rn <= 8
    ORDER BY cell, vec_id
    """,
    "Cluster-balanced diversity sampling: up to 8 vectors per IVF cell "
    "chosen by md5 order — a deterministic, rerun-stable 'spread' "
    "sample across embedding space (the anti-mode-collapse counterpart "
    "of uniform sampling: every occupied region contributes). Per-cell "
    "windows parallelize across cells; no global sort, no RNG.",
)
def ns_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    cents = similarity.fixed_centroids(_EMB_DIM, nlist=16, seed=777)
    assigned = similarity.ivf_assign_fixed(emb, cents)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.select("cell", "vec_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 8)
        .select("cell", "vec_id")
        .orderBy("cell", "vec_id")
    )


_KW_LEXICON = [
    "data", "model", "query", "spark", "vector", "hash", "index",
    "stream", "graph", "token",
]


@query(
    "ns_keyword_tagging",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    )
    SELECT doc_id, tok AS keyword, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM toks
    WHERE tok IN ({", ".join(repr(k) for k in sorted(_KW_LEXICON))})
    GROUP BY doc_id, tok
    ORDER BY doc_id, keyword
    """,
    "Dictionary-match document tagging: tokenize once and semi-filter "
    "against a broadcast lexicon — the scalable multi-keyword scanner "
    "(a 10k-term lexicon compiles to one hash probe per token, where "
    "the regex-alternation equivalent blows up the NFA and scans each "
    "doc 10k times). The filter sits under the (doc, keyword) "
    "aggregation exchange, so only hits shuffle.",
)
def ns_keyword_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(text.words(F.lower(F.col("text")))).alias("tok"),
    )
    lex = docs.sparkSession.createDataFrame(
        [(k,) for k in _KW_LEXICON], "tok string"
    )
    return (
        toks.join(F.broadcast(lex), "tok", "left_semi")
        .groupBy("doc_id", F.col("tok").alias("keyword"))
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .orderBy("doc_id", "keyword")
    )


@query(
    "ns_hard_negatives",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
    scored AS (
        SELECT q.q_id, e.vec_id,
               ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, sim, rnk FROM (
        SELECT q_id, vec_id, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY sim DESC, vec_id) AS INT) AS rnk
        FROM scored
    ) WHERE rnk BETWEEN 6 AND 10
    ORDER BY q_id, rnk
    """,
    "Hard-negative mining for contrastive training: per query, the "
    "vectors ranked just BELOW the positive band (rank 6-10 by cosine, "
    "self excluded) — similar enough to be informative, far enough to "
    "be wrong. Same windowed-rank plan as the k-NN join, different "
    "rank slice; at corpus scale the scoring side swaps in the ANN "
    "index probes unchanged.",
)
def ns_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    pairs = emb.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("q_id")
    )
    sim = F.round(
        similarity.cosine(F.col("embedding"), F.col("qv")), 6
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        pairs.select("q_id", "vec_id", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .where((F.col("rnk") >= 6) & (F.col("rnk") <= 10))
        .orderBy("q_id", "rnk")
    )


@query(
    "ns_contrastive_triplets",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
    scored AS (
        SELECT q.q_id, e.vec_id,
               ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
    ),
    ranked AS (
        SELECT q_id, vec_id, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY sim DESC, vec_id) AS INT) AS rnk
        FROM scored
    )
    SELECT p.q_id AS anchor, p.vec_id AS positive, n.vec_id AS negative,
           p.sim AS pos_sim, n.sim AS neg_sim,
           ROUND(p.sim - n.sim, 6) AS margin
    FROM ranked p JOIN ranked n
      ON n.q_id = p.q_id AND p.rnk <= 2 AND n.rnk BETWEEN 6 AND 8
    ORDER BY anchor, positive, negative
    """,
    "Contrastive training triplets assembled in-plan: per anchor, the "
    "top-2 neighbors as positives x the rank-6..8 band as hard "
    "negatives, with the similarity margin attached (the quantity a "
    "triplet loss optimizes). One scored ranking feeds both roles — "
    "the data-assembly step between ANN search and the training "
    "dataloader, as a single shuffle-light query.",
)
def ns_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from takuan_zoo.operators.skew import materialize

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    pairs = emb.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("q_id")
    )
    sim = F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6)
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    # one ranking frame plays both the positive and the negative role
    ranked = materialize(
        pairs.select("q_id", "vec_id", sim.alias("sim")).withColumn(
            "rnk", F.row_number().over(w)
        )
    )
    p = ranked.where(F.col("rnk") <= 2).select(
        F.col("q_id").alias("anchor"),
        F.col("vec_id").alias("positive"),
        F.col("sim").alias("pos_sim"),
    )
    n = ranked.where((F.col("rnk") >= 6) & (F.col("rnk") <= 8)).select(
        F.col("q_id").alias("anchor"),
        F.col("vec_id").alias("negative"),
        F.col("sim").alias("neg_sim"),
    )
    return (
        p.join(n, "anchor")
        .select(
            "anchor",
            "positive",
            "negative",
            "pos_sim",
            "neg_sim",
            F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
        )
        .orderBy("anchor", "positive", "negative")
    )


@query(
    "ns_length_bucketing",
    """
    WITH t AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents
    ),
    b AS (
        SELECT doc_id, n_tok,
               CAST(CASE WHEN n_tok <= 1 THEN 1 WHEN n_tok <= 2 THEN 2
                         WHEN n_tok <= 4 THEN 4 WHEN n_tok <= 8 THEN 8
                         WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
                         WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
                         WHEN n_tok <= 256 THEN 256 ELSE 512 END
                    AS BIGINT) AS bucket
        FROM t
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket - least(n_tok, bucket)) AS BIGINT) AS pad_tokens,
           ROUND(CAST(SUM(bucket - least(n_tok, bucket)) AS DOUBLE)
                 / SUM(bucket), 6) AS pad_frac
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    "Length-bucketed batching stats: documents assign to power-of-2 "
    "token buckets (capped at 512 — the truncation context), and the "
    "padding waste per bucket quantifies what bucketed batching saves "
    "over one global max-length pad. The inference/training batcher's "
    "planning query: one projection + one tiny aggregation.",
)
def ns_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = text.word_count(F.col("text"))
    # integer threshold chain, NOT ceil(ln n / ln 2): at exact powers
    # of two the float log2 can land on either side of the integer in
    # different engines — the same trap the HLL rho derivation avoids.
    bucket = F.lit(512).cast("bigint")
    for p in (256, 128, 64, 32, 16, 8, 4, 2, 1):
        bucket = F.when(n_tok <= p, F.lit(p).cast("bigint")).otherwise(bucket)
    b = docs.select(n_tok.alias("n_tok"), bucket.alias("bucket"))
    pad = F.col("bucket") - F.least(F.col("n_tok").cast("bigint"), F.col("bucket"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(pad).cast("bigint").alias("pad_tokens"),
            F.round(
                F.sum(pad).cast("double") / F.sum("bucket"), 6
            ).alias("pad_frac"),
        )
        .orderBy("bucket")
    )


@query(
    "ns_dedup_sweep",
    """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh0 AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rare AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b,
               ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON id_a = ca.doc_id
        JOIN cnt cb ON id_b = cb.doc_id
        WHERE ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) >= 0.2
    ),
    ids AS (
        SELECT jaccard, id_a AS id FROM pairs
        UNION ALL SELECT jaccard, id_b FROM pairs
    ),
    thr AS (
        SELECT x / 10.0 AS t FROM UNNEST(generate_series(2, 9)) AS g(x)
    ),
    np AS (
        SELECT th.t AS threshold, CAST(COUNT(p.id_a) AS BIGINT) AS n_pairs
        FROM thr th LEFT JOIN pairs p ON p.jaccard >= th.t
        GROUP BY 1
    ),
    nd AS (
        SELECT th.t AS threshold,
               CAST(COUNT(DISTINCT i.id) AS BIGINT) AS n_docs
        FROM thr th LEFT JOIN ids i ON i.jaccard >= th.t
        GROUP BY 1
    )
    SELECT np.threshold, np.n_pairs, nd.n_docs
    FROM np JOIN nd USING (threshold)
    ORDER BY threshold
    """,
    "Dedup aggressiveness curve: near-dup pair count and docs-touched "
    "at every Jaccard threshold 0.2..0.9 in ONE pass over the "
    "max_df-guarded inverted-index pairs — the sweep a pipeline owner "
    "reads to pick a dedup threshold instead of re-running discovery "
    "per candidate value. The pair set is read from the persisted "
    "MinHash QC artifact (minhash_qc_build exact_pairs: same n=3 / "
    "floor 0.2 / max_df=64 contract), so the sweep costs the 8-bin "
    "histogram, not pair re-discovery. The threshold grid is an 8-row "
    "broadcast; pair mass is bounded by the same stop-shingle cap as "
    "ns_jaccard_neardup.",
)
def ns_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # The sweep's pair set IS the persisted QC artifact's exact_pairs
    # frame (same n=3 / threshold floor 0.2 / max_df=64): read it
    # instead of re-running inverted-index pair discovery — the sweep
    # cost collapses to the 8-bin histogram tail, and at 100 TB the
    # threshold curve is read off the index-grade artifact the dedup
    # deployment already maintains.
    pairs, _ = _minhash_qc_tables(spark, sf_dir)
    # Bin each pair at the HIGHEST threshold it clears, via the same
    # chain of double comparisons the oracle's join applies (floor(j*10)
    # would misbin values like 0.3 whose double sits below 3/10.0*10) —
    # then every per-threshold count is a suffix sum over an 8-row
    # histogram. Linear in pairs; the non-equi threshold join never
    # touches corpus-scale data.
    binned = pairs.select(
        "id_a",
        "id_b",
        dedup.jaccard_threshold_bin(F.col("jaccard")).alias("bin"),
    )
    pair_hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    doc_bins = (
        binned.select(F.col("id_a").alias("id"), "bin")
        .unionAll(binned.select(F.col("id_b").alias("id"), "bin"))
        .groupBy("id")
        .agg(F.max("bin").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    thr = spark.range(2, 10).select(F.col("id").cast("int").alias("bin"))
    suffix = (
        Window.partitionBy(F.lit(1))
        .orderBy(F.desc("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        thr.join(pair_hist, "bin", "left")
        .join(doc_bins, "bin", "left")
        .select(
            "bin",
            F.sum(F.coalesce("c", F.lit(0))).over(suffix).alias("n_pairs"),
            F.sum(F.coalesce("d", F.lit(0))).over(suffix).alias("n_docs"),
        )
        .select(
            (F.col("bin") / F.lit(10.0)).alias("threshold"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("threshold")
    )


@query(
    "ns_ann_recall",
    f"""
    WITH {_lsh_sigs_cte()},
    qsig AS (SELECT tbl, sig FROM sigs WHERE vec_id = 0),
    cand AS (
        SELECT DISTINCT s.vec_id
        FROM sigs s JOIN qsig ON s.tbl = qsig.tbl
        WHERE s.vec_id <> 0 AND bit_count(xor(s.sig, qsig.sig)) <= 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    appr AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_COSINE_EQ} AS sim
            FROM embeddings e JOIN cand USING (vec_id), q
        ) ORDER BY sim DESC, vec_id LIMIT 10
    ),
    brute AS (
        SELECT vec_id FROM (
            SELECT e.vec_id, {_COSINE_EQ} AS sim
            FROM embeddings e, q WHERE vec_id <> 0
        ) ORDER BY sim DESC, vec_id LIMIT 10
    )
    SELECT CAST(10 AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS ann_hits,
           ROUND(COUNT(*) / 10.0, 4) AS recall_at_k
    FROM appr JOIN brute USING (vec_id)
    """,
    "ANN index QC: recall@10 of the LSH-bucketed top-k against the "
    "exact brute-force top-k for the same query vector — the metric "
    "that decides whether an index's (nbits, tables, radius) operating "
    "point is shippable. Composes the REAL lsh_bucketed_topk and "
    "cosine_topk plans; the overlap is a semi-join of two 10-row "
    "frames.",
)
def ns_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    corpus = emb.where(F.col("vec_id") != 0)
    brute = similarity.cosine_topk(corpus, qvec, k=10).select("vec_id")
    approx = similarity.lsh_bucketed_topk(
        corpus, qvec, k=10, nbits=8, tables=4, hamming_radius=1
    ).select("vec_id")
    hits = approx.join(brute, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("ann_hits")
    )
    return hits.select(
        F.lit(10).cast("int").alias("k"),
        "ann_hits",
        F.round(F.col("ann_hits") / 10.0, 4).alias("recall_at_k"),
    )


@query(
    "ns_minhash_recall",
    f"""
    WITH {_minhash_pairs_cte(threshold=0.7)},
    toksj AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    shj0 AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   AS shingle
        FROM toksj, UNNEST(generate_series(1, greatest(len(t) - 2, 0)))
             AS g(i)
    ),
    rarej AS (
        SELECT shingle FROM shj0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    shj AS (SELECT shj0.* FROM shj0 JOIN rarej USING (shingle)),
    cntj AS (SELECT doc_id, COUNT(*) AS n_sh FROM shj GROUP BY doc_id),
    interj AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM shj a JOIN shj b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truthj AS (
        SELECT id_a, id_b FROM interj
        JOIN cntj ca ON id_a = ca.doc_id
        JOIN cntj cb ON id_b = cb.doc_id
        WHERE ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) >= 0.7
    ),
    mh_cand AS (SELECT id_a, id_b FROM mh_pairs),
    qhits AS (SELECT id_a, id_b FROM mh_cand
               INTERSECT SELECT * FROM truthj)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truthj) AS n_true,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mh_cand) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM qhits) AS n_hits,
           ROUND((SELECT COUNT(*) FROM qhits) * 1.0
                 / greatest((SELECT COUNT(*) FROM truthj), 1), 4) AS recall,
           ROUND((SELECT COUNT(*) FROM qhits) * 1.0
                 / greatest((SELECT COUNT(*) FROM mh_cand), 1), 4) AS precision
    """,
    "Near-dup index QC: recall and precision of the MinHash-LSH "
    "candidate pairs (64 hashes, 16 bands, est >= 0.7) against exact "
    "3-gram Jaccard >= 0.7 — the sweep that decides whether a banding "
    "operating point is shippable, as a driver row instead of only a "
    "pytest assertion. Both pair sets come from the REAL operators "
    "via the shared persisted QC artifact (minhash_qc_build: exact "
    "pairs + signatures built once per corpus snapshot, audits "
    "consume them); the overlap is a semi-join of bounded pair "
    "frames.",
)
def ns_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import materialize

    exact, sigs = _minhash_qc_tables(spark, sf_dir)
    truth = materialize(
        exact.where(F.col("jaccard") >= 0.7).select("id_a", "id_b")
    )
    cand = materialize(
        dedup.minhash_band_pairs(
            sigs, num_hashes=64, bands=16, threshold=0.7
        ).select("id_a", "id_b")
    )
    hits = cand.join(truth, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits") / F.greatest(F.col("n_true"), F.lit(1)), 4
            ).alias("recall"),
            F.round(
                F.col("n_hits") / F.greatest(F.col("n_candidates"), F.lit(1)),
                4,
            ).alias("precision"),
        )
    )


#: (bands, rows) grid for a 16-permutation MinHash signature; s50 is
#: the S-curve threshold (1/b)^(1/r) — where the detection curve rises
#: steeply (p there = 1-(1-1/b)^b, ~0.63 for large b) — precomputed in
#: Python and inlined as the SAME literal in both engines (no
#: cross-engine pow).
_LSH_TUNE_GRID = [
    (16, 1, 0.0625),
    (8, 2, 0.3536),
    (4, 4, 0.7071),
    (2, 8, 0.917),
    (1, 16, 1.0),
]
_LSH_TUNE_TAU = 0.7


def _lsh_detect_sql(s: str, r: int, b: int) -> str:
    """1 - (1 - s^r)^b as explicit left-associated multiplication
    chains: both engines execute the identical IEEE-754 op sequence,
    so the doubles agree bit-for-bit before rounding."""
    sr = " * ".join([s] * r)
    miss = f"(1.0 - ({sr}))"
    mb = " * ".join([miss] * b)
    return f"(1.0 - ({mb}))"


def _lsh_detect_col(s, r: int, b: int):
    sr = s
    for _ in range(r - 1):
        sr = sr * s
    miss = F.lit(1.0) - sr
    mb = miss
    for _ in range(b - 1):
        mb = mb * miss
    return F.lit(1.0) - mb


def _lsh_tune_arm_sql(b: int, r: int, s50: float) -> str:
    p = _lsh_detect_sql("jaccard", r, b)
    return f"""
    SELECT {b} AS bands, {r} AS rows_per_band, {s50} AS s50,
           ROUND(SUM(CASE WHEN jaccard >= {_LSH_TUNE_TAU} THEN {p} END)
                 / NULLIF(SUM(CASE WHEN jaccard >= {_LSH_TUNE_TAU}
                              THEN 1 ELSE 0 END), 0), 4) AS exp_recall,
           ROUND(COALESCE(SUM(CASE WHEN jaccard < {_LSH_TUNE_TAU}
                              THEN {p} END), 0), 4) AS exp_fp_mass,
           CAST(SUM(CASE WHEN jaccard >= {_LSH_TUNE_TAU} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_pairs
    FROM pairs"""


_LSH_TUNE_SQL = (
    """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    sh0 AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks,
             UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rare AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON id_a = ca.doc_id
        JOIN cnt cb ON id_b = cb.doc_id
    )
    """
    + "\n    UNION ALL".join(
        _lsh_tune_arm_sql(b, r, s50) for b, r, s50 in _LSH_TUNE_GRID
    )
    + "\n    ORDER BY bands DESC"
)


@query(
    "ns_lsh_band_tuning",
    _LSH_TUNE_SQL,
    "MinHash-LSH index planner: for every (bands, rows) split of a "
    "16-permutation signature, the S-curve threshold and the EXPECTED "
    "recall / false-candidate mass at tau=0.7, evaluated against the "
    "corpus' OBSERVED pair-similarity distribution (the max_df-guarded "
    "inverted-index pairs, read from the persisted planner-calibration "
    "artifact pair_distribution_build; 5 configs aggregated in one "
    "pass over it). "
    "This is the table an operator reads to pick b x r before building "
    "the index — the MMDS ch.3 tuning analysis as a query. Detection "
    "probabilities are literal multiplication chains, identical IEEE "
    "op order in both engines.",
)
def ns_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pair_distribution_table(spark, sf_dir).select("jaccard")
    tau = _LSH_TUNE_TAU
    aggs = [
        F.sum((F.col("jaccard") >= tau).cast("bigint")).alias("n_true")
    ]
    for b, r, _ in _LSH_TUNE_GRID:
        p = _lsh_detect_col(F.col("jaccard"), r, b)
        aggs.append(
            F.sum(F.when(F.col("jaccard") >= tau, p)).alias(f"tp_{b}_{r}")
        )
        aggs.append(
            F.sum(F.when(F.col("jaccard") < tau, p)).alias(f"fp_{b}_{r}")
        )
    one = pairs.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.lit(s50).alias("s50"),
                F.round(
                    F.col(f"tp_{b}_{r}")
                    / F.when(F.col("n_true") > 0, F.col("n_true")),
                    4,
                ).alias("exp_recall"),
                F.round(
                    F.coalesce(F.col(f"fp_{b}_{r}"), F.lit(0.0)), 4
                ).alias("exp_fp_mass"),
                F.col("n_true").alias("n_true_pairs"),
            )
            for b, r, s50 in _LSH_TUNE_GRID
        ]
    )
    return (
        one.select(F.explode(rows).alias("_r"))
        .select("_r.*")
        .orderBy(F.desc("bands"))
    )


_SIMHASH_TUNE_RADII = list(range(0, 7))


@query(
    "ns_simhash_radius_tuning",
    f"""
    WITH toks0 AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    sh0 AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks0,
             UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rare AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    shx AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
    cntx AS (SELECT doc_id, COUNT(*) AS n_sh FROM shx GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM shx a JOIN shx b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b,
               ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) AS jaccard
        FROM inter
        JOIN cntx ca ON id_a = ca.doc_id
        JOIN cntx cb ON id_b = cb.doc_id
    ),
    wt AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
                                          x -> x <> '')) AS tok
        FROM documents
    ),
    th AS (SELECT doc_id, {sql_md5_int('tok', hex_chars=15)} AS h FROM wt),
    bs AS (
        SELECT doc_id, g.i AS i, COUNT(*) AS n, SUM((h >> g.i) & 1) AS s
        FROM th CROSS JOIN UNNEST(generate_series(0, 59)) AS g(i)
        GROUP BY doc_id, g.i
    ),
    sig AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN 2 * s > n THEN (CAST(1 AS BIGINT) << i)
                             ELSE 0 END) AS BIGINT) AS sh
        FROM bs GROUP BY doc_id
    ),
    ph AS (
        SELECT p.jaccard,
               CAST(bit_count(xor(sa.sh, sb.sh)) AS INT) AS hamming
        FROM pairs p
        JOIN sig sa ON p.id_a = sa.doc_id
        JOIN sig sb ON p.id_b = sb.doc_id
    ),
    grid AS (SELECT g.r FROM UNNEST(generate_series(0, 6)) AS g(r))
    SELECT r AS radius,
           CAST(SUM(CASE WHEN hamming <= r THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates,
           CAST(SUM(CASE WHEN hamming <= r AND jaccard >= 0.7
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           ROUND(SUM(CASE WHEN hamming <= r AND jaccard >= 0.7
                     THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN jaccard >= 0.7
                              THEN 1 ELSE 0 END), 0), 4) AS recall,
           ROUND(SUM(CASE WHEN hamming <= r AND jaccard >= 0.7
                     THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN hamming <= r THEN 1 ELSE 0 END),
                          0), 4) AS precision
    FROM ph CROSS JOIN grid
    GROUP BY r
    ORDER BY radius
    """,
    "SimHash radius calibration: for Hamming cutoffs 0..6 over the "
    "60-bit md5-derived SimHash, candidate count, recall and precision "
    "of true near-dups (Jaccard >= 0.7) measured on the corpus' "
    "observed pair-similarity distribution (the persisted "
    "planner-calibration artifact) — the companion planner to "
    "ns_lsh_band_tuning (bands x rows for MinHash; radius for "
    "SimHash). One pass: every observed pair carries its hamming + "
    "jaccard, the 7-radius grid is a broadcast explode, counts are "
    "conditional aggregates.",
)
def ns_simhash_radius_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from takuan_zoo.operators.skew import materialize

    docs = load_table(spark, sf_dir, "documents")
    pairs = _pair_distribution_table(spark, sf_dir)
    # the signature frame feeds BOTH sides of the pair join; without a
    # snapshot Catalyst recomputes the full explode+60-sum build twice
    sig = materialize(dedup.simhash(docs, bits=60))
    ph = (
        pairs.join(
            sig.select(F.col("doc_id").alias("id_a"),
                       F.col("simhash").alias("sh_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("id_b"),
                       F.col("simhash").alias("sh_b")),
            "id_b",
        )
        .select(
            "jaccard",
            dedup.hamming_distance(
                F.col("sh_a"), F.col("sh_b")
            ).cast("int").alias("hamming"),
        )
    )
    grid = ph.withColumn(
        "radius",
        F.explode(F.array(*[F.lit(r) for r in _SIMHASH_TUNE_RADII])),
    )
    within = (F.col("hamming") <= F.col("radius")).cast("bigint")
    true_p = (F.col("jaccard") >= 0.7).cast("bigint")
    return (
        grid.groupBy("radius")
        .agg(
            F.sum(within).cast("bigint").alias("n_candidates"),
            F.sum(within * true_p).cast("bigint").alias("n_true"),
            F.round(
                F.sum(within * true_p) * 1.0
                / F.when(F.sum(true_p) > 0, F.sum(true_p)),
                4,
            ).alias("recall"),
            F.round(
                F.sum(within * true_p) * 1.0
                / F.when(F.sum(within) > 0, F.sum(within)),
                4,
            ).alias("precision"),
        )
        .orderBy("radius")
    )


_VOCAB_COVERAGE_KS = [4, 8, 16, 32]


@query(
    "ns_vocab_coverage",
    """
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    ranked AS (
        SELECT tok, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn
        FROM cnt
    ),
    grid AS (SELECT g.k FROM UNNEST([4, 8, 16, 32]) AS g(k))
    SELECT k AS vocab_k,
           CAST(SUM(CASE WHEN rn <= k THEN 1 ELSE 0 END) AS BIGINT)
               AS vocab_used,
           CAST(SUM(CASE WHEN rn <= k THEN c ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           ROUND(SUM(CASE WHEN rn <= k THEN c ELSE 0 END) * 1.0
                 / SUM(c), 6) AS coverage
    FROM ranked CROSS JOIN grid
    GROUP BY k
    ORDER BY vocab_k
    """,
    "Vocabulary-size planner: token-mass coverage at top-k vocab "
    "cutoffs (k = 4/8/16/32), ranked by frequency with a deterministic "
    "(count desc, token) tiebreak — the curve read before fixing a "
    "tokenizer vocab size (complements ns_vocab_oov, which rates ONE "
    "fixed vocab). Scale shape: the count shuffle is combiner-reduced "
    "to vocab-sized state, and the rank window runs over DISTINCT "
    "tokens only — vocab-sized, not corpus-sized, the same bound every "
    "BPE trainer accepts; the k grid is conditional aggregates in one "
    "pass.",
)
def ns_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(text.words(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    rn = F.row_number().over(
        Window.partitionBy(F.lit(1)).orderBy(F.desc("c"), F.asc("tok"))
    )
    ranked = cnt.select("c", rn.alias("rn")).withColumn(
        "vocab_k",
        F.explode(F.array(*[F.lit(k) for k in _VOCAB_COVERAGE_KS])),
    )
    ink = (F.col("rn") <= F.col("vocab_k")).cast("bigint")
    return (
        ranked.groupBy("vocab_k")
        .agg(
            F.sum(ink).cast("bigint").alias("vocab_used"),
            F.sum(ink * F.col("c")).cast("bigint").alias("covered_tokens"),
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(ink * F.col("c")) * 1.0 / F.sum("c"), 6
            ).alias("coverage"),
        )
        .orderBy("vocab_k")
    )


_MH_ERR_NH = 64


@query(
    "ns_minhash_estimate_error",
    f"""
    WITH toksx AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    shx0 AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toksx,
             UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS g(i)
    ),
    rarex AS (
        SELECT shingle FROM shx0 GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    shc AS (SELECT shx0.* FROM shx0 JOIN rarex USING (shingle)),
    cntc AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
    interc AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM shc a JOIN shc b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairsx AS (
        SELECT id_a, id_b,
               ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) AS exact_j
        FROM interc
        JOIN cntc ca ON id_a = ca.doc_id
        JOIN cntc cb ON id_b = cb.doc_id
        WHERE ROUND(i * 1.0 / (ca.n_sh + cb.n_sh - i), 6) >= 0.2
    ),
    abx(i, a, b) AS (SELECT * FROM (VALUES {", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(affine_params(_MH_ERR_NH))
    )}) v(i, a, b)),
    hsx AS (
        SELECT doc_id, abx.i AS i,
               MIN((abx.a * ({sql_md5_int('shingle')} % {MERSENNE31})
                    + abx.b) % {MERSENNE31}) AS mh
        FROM shx0 CROSS JOIN abx
        GROUP BY doc_id, abx.i
    ),
    mmx AS (
        SELECT p.id_a, p.id_b, p.exact_j,
               SUM(CASE WHEN ha.mh = hb2.mh THEN 1 ELSE 0 END) AS m
        FROM pairsx p
        JOIN hsx ha  ON ha.doc_id = p.id_a
        JOIN hsx hb2 ON hb2.doc_id = p.id_b AND hb2.i = ha.i
        GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, exact_j,
           ROUND(m / {_MH_ERR_NH}.0, 6) AS est_j,
           ROUND(abs(ROUND(m / {_MH_ERR_NH}.0, 6) - exact_j), 6) AS abs_err
    FROM mmx
    ORDER BY id_a, id_b
    """,
    "MinHash ESTIMATOR error audit: the 64-permutation signature "
    "match fraction vs the exact n-gram Jaccard on every observed "
    "near-dup pair (capped inverted index, j >= 0.2) — the audit for "
    "MinHash as an estimator, complementing ns_minhash_recall (the "
    "audit for MinHash as an INDEX). Signatures use full shingle sets "
    "(the estimator's contract); the exact side uses the max_df-capped "
    "pair discovery. Both frames come from the shared persisted QC "
    "artifact (minhash_qc_build). Every approximation in the engine "
    "ships a driver-checkable error row.",
)
def ns_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact, sigs = _minhash_qc_tables(spark, sf_dir)
    pairs = exact.withColumnRenamed("jaccard", "exact_j")
    j = (
        pairs.join(
            sigs.select(F.col("doc_id").alias("id_a"),
                        F.col("signature").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("id_b"),
                        F.col("signature").alias("sig_b")),
            "id_b",
        )
    )
    matches = F.size(
        F.filter(
            F.zip_with(
                "sig_a",
                "sig_b",
                lambda x, y: F.when(x == y, 1).otherwise(0),
            ),
            lambda v: v == 1,
        )
    )
    est = F.round(matches / float(_MH_ERR_NH), 6)
    return j.select(
        "id_a",
        "id_b",
        "exact_j",
        est.alias("est_j"),
        F.round(F.abs(est - F.col("exact_j")), 6).alias("abs_err"),
    ).orderBy("id_a", "id_b")
