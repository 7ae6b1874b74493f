"""Multimodal queries: opaque-binary media columns through the engine
(SURVEY.md §2.2 north-star).

The media table is derived deterministically from ``documents``
(tables.load_media): payload = utf-8 bytes of the text, metadata from
doc_id. That keeps the whole path oracle-checkable — the DuckDB side
re-derives the same table in a CTE (tables.MEDIA_ORACLE_CTE) and
re-implements the deterministic fake decoder (sha256-derived float32
features) in SQL, so even the mapInPandas Arrow plumbing is value-checked
against an independent engine, bit-exact at float32.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from takuan_zoo.operators import multimodal
from takuan_zoo.queries import query
from takuan_zoo.tables import MEDIA_ORACLE_CTE, load_media


@query(
    "mm_media_summary",
    f"""
    WITH {MEDIA_ORACLE_CTE}
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(payload_bytes) AS BIGINT) AS total_bytes,
           ROUND(AVG(payload_bytes), 2) AS avg_bytes
    FROM media
    GROUP BY kind
    ORDER BY kind
    """,
    "Metadata-only media aggregate per kind over the stored "
    "payload_bytes column — the payload blob itself is pruned out of "
    "the scan entirely.",
)
def mm_media_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = load_media(spark, sf_dir)
    return multimodal.media_summary(media).orderBy("kind")


@query(
    "mm_feature_extract",
    f"""
    WITH {MEDIA_ORACLE_CTE}
    SELECT media_id,
           CAST(i - 1 AS INT) AS feat_idx,
           CAST(((strpos('0123456789abcdef', substr(hx, 2*i-1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1))
               / 255.0 AS REAL) AS feat
    FROM (SELECT media_id, sha256(decode(payload)) AS hx FROM media),
         UNNEST(range(1, {multimodal.FEATURE_DIM + 1})) AS g(i)
    ORDER BY media_id, feat_idx
    """,
    "Decode/feature-extract over the opaque payload via Arrow-batched "
    "mapInPandas (deterministic sha256 stand-in decoder — real codecs "
    "plug into the same hook). Float32 features match the SQL oracle "
    "bit-for-bit; flattened to scalar rows for the value-hash compare.",
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = load_media(spark, sf_dir)
    feats = multimodal.extract_features(media, decoder=multimodal.fake_decoder)
    return feats.select(
        "media_id", F.posexplode("features").alias("feat_idx", "feat")
    ).orderBy("media_id", "feat_idx")


@query(
    "mm_phash_neardup",
    f"""
    WITH {MEDIA_ORACLE_CTE},
    hx AS (
        SELECT media_id, sha256(decode(payload)) AS hx
        FROM media WHERE kind = 'image'
    ),
    qb AS (
        SELECT media_id, g.i AS i,
               (strpos('0123456789abcdef', substr(hx, g.i, 1)) - 1) AS q
        FROM hx, UNNEST(range(1, {multimodal.FINGERPRINT_DIM + 1})) AS g(i)
    ),
    ph AS (
        SELECT media_id,
               CAST(SUM(CASE WHEN {multimodal.FINGERPRINT_DIM} * q > s
                             THEN CAST(power(2, {multimodal.FINGERPRINT_DIM} - i)
                                       AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS phash
        FROM (SELECT media_id, i, q,
                     SUM(q) OVER (PARTITION BY media_id) AS s FROM qb)
        GROUP BY media_id
    ),
    sl0 AS (
        SELECT media_id, phash, CAST(b.b AS INT) AS band,
               (phash >> (CAST(b.b AS INT) * 15)) & 32767 AS slice
        FROM ph, UNNEST(range(0, 4)) AS b(b)
    ),
    keepb AS (
        SELECT band, slice FROM sl0 GROUP BY band, slice
        HAVING COUNT(*) <= 64
    ),
    sl AS (SELECT sl0.* FROM sl0 JOIN keepb USING (band, slice)),
    cand AS (
        SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
               a.phash AS ha, c.phash AS hb
        FROM sl a JOIN sl c
          ON a.band = c.band AND a.slice = c.slice
         AND a.media_id < c.media_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 2
    ORDER BY id_a, id_b
    """,
    "Perceptual-hash image near-dup: decode (Arrow mapInPandas) -> "
    "60-bit average hash whose bit decisions are INTEGER comparisons "
    "(60*q_i > sum q — no float sum ever decides a bit) -> banded "
    "hamming discovery (4 x 15-bit slices, pigeonhole-complete for "
    "distance <= 2, max_bucket=64 saturated-slice guard) -> exact "
    "bit_count(xor) on candidates only. The 16-bit hash this replaced "
    "saturated structurally (16 values per band slice -> candidate "
    "mass ~N^2/16; the honest 10x probe read 8.2x) — 15-bit slices "
    "are the ns_simhash_neardup width, and the cap bounds whatever "
    "still collides. The shuffle carries (band, slice) ints, never "
    "payloads or features.",
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = load_media(spark, sf_dir).where(F.col("kind") == "image")
    feats = multimodal.extract_features(
        media, decoder=multimodal.fake_fingerprint_decoder
    )
    hashed = multimodal.ahash_frame(
        feats, dim=multimodal.FINGERPRINT_DIM
    )
    return multimodal.phash_pairs(
        hashed,
        dim=multimodal.FINGERPRINT_DIM,
        bands=4,
        max_bucket=64,
    ).orderBy("id_a", "id_b")


@query(
    "mm_frame_sample",
    f"""
    WITH {MEDIA_ORACLE_CTE}
    SELECT media_id, CAST(f * 1000 AS BIGINT) AS frame_ts_ms
    FROM media,
         UNNEST(generate_series(0,
             greatest(CAST(floor(duration_ms / 1000.0) AS INT), 1) - 1)) AS g(f)
    WHERE kind = 'video'
    ORDER BY media_id, frame_ts_ms
    """,
    "Video frame-sampling plan: one row per sampled timestamp (row "
    "explosion + timestamps are the real plumbing; decode is stubbed).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = load_media(spark, sf_dir)
    return (
        multimodal.sample_frames(media, every_ms=1000)
        .select("media_id", F.col("frame_ts_ms").cast("long"))
        .orderBy("media_id", "frame_ts_ms")
    )


@query(
    "mm_audio_segments",
    """
    WITH loud AS (
        SELECT d.doc_id, g.f
        FROM documents d, UNNEST(generate_series(0, 31)) AS g(f)
        WHERE CAST(concat('0x', substr(md5(d.doc_id || ':' || g.f), 1, 8))
                   AS BIGINT) % 2 = 1
    ),
    runs AS (
        SELECT doc_id, f,
               f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
        FROM loud
    )
    SELECT doc_id AS media_id,
           CAST(MIN(f) AS INT) AS seg_start,
           CAST(MAX(f) AS INT) AS seg_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(0.5 AS DOUBLE) AS mean_rms
    FROM runs
    GROUP BY doc_id, grp
    ORDER BY media_id, seg_start
    """,
    "Audio activity segmentation over a REAL PCM decode: deterministic "
    "16-bit WAVs are synthesized per doc (md5-derived loud frames, "
    "square wave = exact 0.5 RMS), the stdlib wave reader decodes "
    "per-frame RMS, and maximal loud runs merge via gaps-and-islands "
    "— pure DataFrame ops after the codec. Synth and decode are FUSED "
    "into one Arrow mapInPandas stage: the 16 KB WAV blobs never "
    "cross the JVM boundary (two chained Python stages shipped ~1 GB "
    "of blobs through Arrow twice at sf0.1 — the measured source of "
    "the query's contention hypersensitivity), matching the "
    "storage-read production shape where binaryFile feeds a single "
    "decode stage (mm_binaryfile_ingest exercises that path). The "
    "oracle re-derives the loudness plan arithmetically, so the "
    "decode path itself is value-checked end-to-end.",
)
def mm_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import (
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from takuan_spark.tables import load_table

    from takuan_spark.operators.skew import spread

    # spread: WAV synth + the stdlib-wave decode are Python per-row
    # work; without it the parquet row-group count caps Arrow workers
    docs = spread(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("media_id")
        )
    )
    n_frames = 32
    rms_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame", IntegerType(), False),
            StructField("rms", FloatType(), True),
        ]
    )

    def _synth_rms(batches):
        import numpy as np

        from takuan_zoo.operators.multimodal import synth_wav, wav_frame_rms

        for pdf in batches:
            ids = pdf["media_id"].to_numpy(dtype="int64")
            vals = [
                wav_frame_rms(synth_wav(int(m)), n_frames=n_frames)
                for m in ids
            ]
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(ids, n_frames),
                    "frame": np.tile(
                        np.arange(n_frames, dtype=np.int32), len(ids)
                    ),
                    "rms": np.concatenate(vals)
                    if vals
                    else np.array([], dtype=np.float64),
                }
            )

    frames = docs.mapInPandas(_synth_rms, schema=rms_schema)
    return multimodal.audio_segments(frames, threshold=0.25).select(
        "media_id",
        "seg_start",
        "seg_end",
        "n_frames",
        F.col("mean_rms").cast("double").alias("mean_rms"),
    )


@query(
    "mm_scene_cuts",
    """
    WITH f AS (
        SELECT d.doc_id AS media_id, g.f AS frame_id,
               (g.f = 0 OR
                CAST(concat('0x', substr(md5(d.doc_id || ':vid:' || g.f),
                                         1, 8)) AS BIGINT) % 4 = 0)
                   AS is_cutbase,
               CAST(concat('0x', substr(md5(d.doc_id || ':lvl:' || g.f),
                                        1, 8)) AS BIGINT) % 256 AS lvl
        FROM documents d, UNNEST(generate_series(0, 15)) AS g(f)
    ),
    loc AS (
        SELECT media_id, frame_id,
               CAST(LAST_VALUE(CASE WHEN is_cutbase THEN lvl END
                               IGNORE NULLS)
                    OVER (PARTITION BY media_id ORDER BY frame_id)
                    AS DOUBLE) AS inten
        FROM f
    ),
    cuts AS (
        SELECT media_id, frame_id, inten,
               CASE WHEN frame_id = 0
                         OR ABS(inten - LAG(inten) OVER (
                                PARTITION BY media_id ORDER BY frame_id))
                            >= 8.0
                    THEN 1 ELSE 0 END AS is_cut
        FROM loc
    ),
    shots AS (
        SELECT media_id, frame_id, inten,
               SUM(is_cut) OVER (PARTITION BY media_id
                                 ORDER BY frame_id) AS shot_id
        FROM cuts
    )
    SELECT media_id, CAST(shot_id AS INT) AS shot_id,
           CAST(MIN(frame_id) AS INT) AS shot_start,
           CAST(MAX(frame_id) AS INT) AS shot_end,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           ROUND(AVG(inten), 6) AS avg_intensity
    FROM shots GROUP BY media_id, shot_id
    ORDER BY media_id, shot_start
    """,
    "Video shot segmentation over a REAL image decode: 16 "
    "deterministic BMP frames per doc follow an md5-derived "
    "piecewise-constant intensity trajectory, the real BMP reader "
    "decodes per-frame mean intensity, and cuts are "
    "frame-differencing jumps >= 8 rolled into shots via two windows "
    "— the mm_audio_segments contract applied to the temporal image "
    "axis. Synth and decode are FUSED into one Arrow mapInPandas "
    "stage (the per-frame BMP blobs never cross the JVM boundary — "
    "same rationale and storage-read equivalence as "
    "mm_audio_segments). The oracle re-derives the trajectory "
    "arithmetically (md5 + a last_value-ignore-nulls carry), so the "
    "decode path itself is value-checked end-to-end.",
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from takuan_spark.tables import load_table

    from takuan_spark.operators.skew import spread

    n_frames = 16
    # spread: frame synth + decode are Python-side per-row work and a
    # 12-row-group scan would cap the Arrow workers at 12 of 32 cores
    docs = spread(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("media_id")
        )
    )
    inten_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_id", IntegerType(), False),
            StructField("intensity", DoubleType(), True),
        ]
    )

    def _synth_intensity(batches):
        import numpy as np

        from takuan_zoo.operators.multimodal import (
            bmp_mean_intensity,
            synth_video_frame,
        )

        for pdf in batches:
            ids = pdf["media_id"].to_numpy(dtype="int64")
            vals = [
                bmp_mean_intensity(synth_video_frame(int(m), f))
                for m in ids
                for f in range(n_frames)
            ]
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(ids, n_frames),
                    "frame_id": np.tile(
                        np.arange(n_frames, dtype=np.int32), len(ids)
                    ),
                    "intensity": pd.array(vals, dtype="float64"),
                }
            )

    inten = docs.mapInPandas(_synth_intensity, schema=inten_schema)
    return multimodal.scene_segments(inten, threshold=8.0)


@query(
    "mm_image_resize",
    """
    SELECT doc_id AS media_id,
           CAST(5 AS INT) AS width,
           CAST(3 AS INT) AS height,
           CAST(102 AS INT) AS payload_bytes,
           ROUND(CAST(CAST(concat('0x',
                     substr(md5(doc_id || ':lvl:0'), 1, 8)) AS BIGINT)
                 % 256 AS DOUBLE), 6) AS intensity
    FROM documents
    ORDER BY media_id
    """,
    "Image resize through the REAL codec path: synth one 8x8 BMP per "
    "doc (frame 0 of the md5 shot trajectory, a uniform gray), "
    "nearest-neighbor resize to 5x3 inside Arrow batches (decode -> "
    "sample -> re-encode), then decode the RESIZED payload back for "
    "its mean intensity. The oracle re-derives everything "
    "arithmetically: a uniform image stays uniform under NN resize "
    "(intensity = the md5 shot level) and the 24-bit BMP size is "
    "54 + height * pad4(3 * width) = 102 bytes — so a wrong stride, "
    "padding, or sample grid breaks the hash match.",
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from takuan_spark.operators.skew import spread
    from takuan_spark.tables import load_table

    docs = spread(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("media_id")
        )
    )
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("payload", BinaryType(), True),
        ]
    )

    def _synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        multimodal.synth_video_frame(int(m), 0)
                        for m in pdf["media_id"]
                    ],
                }
            )

    from takuan_zoo.operators.skew import materialize

    media = docs.mapInPandas(_synth, schema=schema)
    # the resized frame feeds BOTH the metadata select and the
    # intensity decode; unmaterialized, the synth + resize pipeline
    # would execute once per branch
    resized = materialize(
        multimodal.resize_images(media, width=5, height=3)
    )
    inten = multimodal.frame_intensity(
        resized.withColumn("frame_id", F.lit(0))
    ).select("media_id", F.round("intensity", 6).alias("intensity"))
    return (
        resized.select("media_id", "width", "height", "payload_bytes")
        .join(inten, "media_id")
        .orderBy("media_id")
    )


@query(
    "mm_binaryfile_ingest",
    """
    SELECT doc_id AS media_id,
           CAST(246 AS BIGINT) AS payload_bytes,
           ROUND(CAST(CAST(concat('0x',
                     substr(md5(doc_id || ':lvl:0'), 1, 8)) AS BIGINT)
                 % 256 AS DOUBLE), 6) AS intensity
    FROM documents
    WHERE doc_id % 50 = 0
    ORDER BY media_id
    """,
    "Media ingest through Spark's binaryFile source: synth BMPs land "
    "as individual files, spark.read.format('binaryFile') reads "
    "(path, length, content), the media id parses from the filename "
    "with a native regexp, and the REAL BMP decode recovers each "
    "frame's intensity. The oracle re-derives the md5 shot level and "
    "the exact 246-byte 8x8 BMP size — filename parsing, the "
    "source's length metadata, and the decode are all under the "
    "hash. Every 50th doc keeps the file count file-source-friendly "
    "at any SF (one file per blob is the binaryFile contract). "
    "Fixture synthesis runs on EXECUTORS via foreachPartition — no "
    "collect-then-loop on the driver, so blob generation scales with "
    "the cluster (local mode shares one filesystem; a cluster "
    "deployment points the path at shared storage).",
)
def mm_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from takuan_zoo.queries.ingest import _scratch
    from takuan_spark.tables import load_table

    path = _scratch(sf_dir, "binmedia")
    os.makedirs(path, exist_ok=True)

    def _write_blobs(rows) -> None:
        # runs on executors: each task writes only its partition's
        # blobs (idempotent per file — a retried task rewrites the
        # same deterministic bytes)
        import os as _osx

        from takuan_zoo.operators.multimodal import synth_video_frame

        _osx.makedirs(path, exist_ok=True)
        for r in rows:
            m = int(r.doc_id)
            with open(_osx.path.join(path, f"media_{m}.bmp"), "wb") as fh:
                fh.write(synth_video_frame(m, 0))

    (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 == 0)
        .select("doc_id")
        .foreachPartition(_write_blobs)
    )
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"media_(\d+)\.bmp$", 1)
            .cast("bigint")
            .alias("media_id"),
            F.col("length").cast("bigint").alias("payload_bytes"),
            F.col("content").alias("payload"),
        )
    )
    inten = multimodal.frame_intensity(
        raw.withColumn("frame_id", F.lit(0))
    ).select("media_id", F.round("intensity", 6).alias("intensity"))
    return (
        raw.select("media_id", "payload_bytes")
        .join(inten, "media_id")
        .orderBy("media_id")
    )
