"""Multimodal column plumbing (SURVEY.md §2.2).

Images/audio/video ride through the engine as opaque ``binary`` columns
with a typed metadata struct. The Spark-side machinery — schema,
Arrow-batched ``mapInPandas`` plumbing, partition sizing — is real and
tested; the actual media decode is stubbed (codec libraries are not in
this container) behind ``decoder=`` hooks: pass a real decoder in
production, use :func:`fake_decoder` (deterministic, content-derived) in
tests, or get ``NotImplementedError`` from the default.

Design rules for 100 TB of media:
- media bytes live in their own column so Parquet column pruning skips
  them unless a stage actually decodes;
- decode happens in ``mapInPandas`` (Arrow batches, one Python worker per
  partition core) — never a row-at-a-time UDF;
- feature outputs are fixed-size ``array<float>`` so downstream
  similarity/dedup reuse the embedding operators unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: canonical media-table schema: opaque payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        # stored blob size: metadata queries aggregate this so the
        # payload column itself is never scanned for size stats
        StructField("payload_bytes", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("format", StringType(), True),
    ]
)

FEATURE_DIM = 16

Decoder = Callable[[bytes], list[float]]


def default_decoder(payload: bytes) -> list[float]:
    """The production hook. Codec libs are not available in this
    container, so the default decode is explicitly unimplemented."""
    raise NotImplementedError(
        "media decode requires codec libraries not present in this "
        "environment; inject a decoder (e.g. PIL/ffmpeg-based) or use "
        "fake_decoder for plumbing tests"
    )


def fake_decoder(payload: bytes) -> list[float]:
    """Deterministic stand-in: FEATURE_DIM floats derived from the
    payload's sha256 — exercises the full Arrow path with stable
    outputs."""
    h = hashlib.sha256(payload or b"").digest()
    return [h[i] / 255.0 for i in range(FEATURE_DIM)]


#: Fingerprint width for the image near-dup path. A 16-bit hash banded
#: into 4-bit slices saturates structurally: 16 possible values per
#: band means candidate mass grows ~N^2/16 per band regardless of plan
#: (the 10x probe measured 8.2x on mm_phash_neardup before this was
#: widened). 60 bits in 15-bit slices is the ns_simhash_neardup
#: discipline — 32768 values per band — and stays clear of BIGINT
#: overflow (2^59 max weight).
FINGERPRINT_DIM = 60


def fake_fingerprint_decoder(payload: bytes) -> list[float]:
    """FINGERPRINT_DIM levels for the wide image fingerprint, one per
    leading sha256 hex digit (values 0..15 encoded as v/255 so
    :func:`ahash`'s round(255*f) quantization inverts them exactly —
    the same engine-portable contract as :func:`fake_decoder`)."""
    hx = hashlib.sha256(payload or b"").hexdigest()
    return [int(c, 16) / 255.0 for c in hx[:FINGERPRINT_DIM]]


def wav_decoder(payload: bytes) -> list[float]:
    """REAL audio decode — PCM WAV needs only the stdlib ``wave``
    module plus numpy, so this path is fully implemented (the
    ``default_decoder`` stub remains only for codecs that genuinely
    need external libraries). Features: FEATURE_DIM RMS energies over
    equal-width time windows, full-scale-normalized to [0, 1] — the
    classic energy envelope an audio-dedup/quality gate keys on.
    Multi-channel audio is mixed down; 8/16/32-bit PCM supported.
    """
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload)) as w:
        width = w.getsampwidth()
        channels = w.getnchannels()
        raw = w.readframes(w.getnframes())
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise ValueError(f"unsupported PCM sample width: {width}")
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if width == 1:
        x = x - 128.0  # 8-bit WAV is unsigned
    if channels > 1:
        x = x[: len(x) - len(x) % channels].reshape(-1, channels).mean(axis=1)
    full = 128.0 if width == 1 else float(2 ** (8 * width - 1))
    segs = np.array_split(x, FEATURE_DIM)
    return [
        float(np.sqrt((s**2).mean()) / full) if s.size else 0.0 for s in segs
    ]


def bmp_pixels(payload: bytes):
    """Decode an uncompressed 24/32-bit BMP to an (H, W, 3) uint8 BGR
    array — a fixed header plus raw pixel rows, parseable with
    struct + numpy alone. Handles bottom-up and top-down row order and
    4-byte row padding. The pixel-level base of :func:`bmp_decoder`
    (features) and :func:`bmp_resize` (re-layout)."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError("BMP core-header variant not supported")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"only uncompressed 24/32-bit BMP (got {bpp}bpp)")
    top_down = height < 0
    height = abs(height)
    bytes_pp = bpp // 8
    row_stride = (width * bytes_pp + 3) & ~3
    rows = []
    for r in range(height):
        off = pixel_off + r * row_stride
        row = np.frombuffer(
            payload, dtype=np.uint8, count=width * bytes_pp, offset=off
        ).reshape(width, bytes_pp)
        rows.append(row[:, :3])  # BGR(A) -> BGR
    img = np.stack(rows)  # (H, W, 3), file row order
    if not top_down:
        img = img[::-1]  # bottom-up storage -> natural top-down
    return img


def bmp_encode(img) -> bytes:
    """Encode an (H, W, 3) uint8 BGR array as an uncompressed 24-bit
    bottom-up BMP — 54 bytes of header plus padded pixel rows, stdlib
    struct only (the inverse of :func:`bmp_pixels`)."""
    import struct

    import numpy as np

    img = np.asarray(img)
    if img.size == 0:
        raise ValueError("cannot encode an empty image")
    if img.dtype != np.uint8:
        # tobytes() on a wider dtype would write N bytes per channel
        # while the header stride assumes 1 — a silently corrupt file.
        # Pixel arithmetic upstream (numpy promotes to int64/float64)
        # must come back to 8-bit here; out-of-range values are the
        # caller's bug. Fractional values (interpolating resizers emit
        # them) are ROUNDED to nearest, never truncated toward zero —
        # astype() alone would silently map 254.7 -> 254.
        if img.min() < 0 or img.max() > 255:
            raise ValueError("pixel values outside [0, 255]")
        img = np.rint(img).astype(np.uint8)
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    data_size = stride * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + data_size, 0, 0, 54,
        40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0,
    )
    rows = []
    pad = b"\x00" * (stride - w * 3)
    for r in range(h - 1, -1, -1):  # bottom-up storage
        rows.append(np.ascontiguousarray(img[r]).tobytes() + pad)
    return header + b"".join(rows)


def bmp_resize(payload: bytes, *, width: int, height: int) -> bytes:
    """REAL image resize: decode → nearest-neighbor sample to
    (width, height) → re-encode as 24-bit BMP. Nearest-neighbor is the
    deterministic, dependency-free kernel; production interpolating
    resizers plug into the same mapInPandas slot."""
    import numpy as np

    img = bmp_pixels(payload)
    h, w, _ = img.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return bmp_encode(img[ys][:, xs])


def bmp_decoder(payload: bytes) -> list[float]:
    """REAL image decode — feature view over :func:`bmp_pixels`:
    mean luminance over a 4x4 spatial grid (16 = FEATURE_DIM cells),
    [0, 1] — the thumbnail-energy signature image-dedup keys on."""
    import numpy as np

    img = bmp_pixels(payload)
    # ITU-R BT.601 luminance from B, G, R channels
    lum = (
        0.114 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.299 * img[:, :, 2]
    ) / 255.0
    g = 4  # 4x4 grid = FEATURE_DIM cells
    return [
        float(np.mean(cell)) if cell.size else 0.0
        for hrow in np.array_split(lum, g, axis=0)
        for cell in np.array_split(hrow, g, axis=1)
    ]


def extract_features(
    media: DataFrame,
    *,
    decoder: Decoder = default_decoder,
    payload_col: str = "payload",
    id_col: str = "media_id",
    on_error: str = "null",
) -> DataFrame:
    """media table → (media_id, features array<float>) via mapInPandas.

    Arrow delivers the binary column in batches; the decoder runs once
    per payload inside the batch loop. Output schema is fixed, so the
    result feeds straight into the similarity/dedup operators.

    ``on_error="null"`` (default) quarantines per record: a corrupt
    blob yields ``features = NULL`` instead of aborting the job — at
    media-corpus scale one truncated file must never kill a full scan
    (the same error-side-channel philosophy as the parse pipeline's
    ``_parse_error``). ``on_error="raise"`` propagates, for callers
    that want corruption to be loud. ``NotImplementedError`` always
    propagates — a missing codec is a configuration bug, not bad data.
    """
    if on_error not in ("null", "raise"):
        raise ValueError(f"on_error must be 'null' or 'raise', got {on_error!r}")
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("features", ArrayType(FloatType()), True),
        ]
    )

    def _one(p) -> list[float] | None:
        if p is None:
            return None
        try:
            return decoder(bytes(p))
        except NotImplementedError:
            raise
        except Exception:
            if on_error == "raise":
                raise
            return None

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_one(p) for p in pdf[payload_col]]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return media.select(id_col, payload_col).mapInPandas(_decode, schema=out_schema)


def ahash(features_col, *, dim: int = FEATURE_DIM):
    """Average-hash (aHash) over a decoded feature vector, as one
    codegen'd expression returning a ``dim``-bit bigint fingerprint.

    Features quantize to 8-bit levels q_i = round(255 * f_i) first, and
    the mean comparison is INTEGER (bit i set iff dim * q_i > sum q) —
    no float summation ever decides a bit, so the fingerprint is
    bit-exact across engines and partitionings. For the sha256
    fake-decoder the quantization inverts the byte/255 encoding
    exactly; for real decoders it is ordinary 8-bit level rounding."""
    q = F.transform(
        features_col,
        lambda x: F.round(x.cast("double") * 255).cast("bigint"),
    )
    total = F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x)
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    bits = F.zip_with(
        q,
        idx,
        lambda qi, i: F.when(
            F.lit(dim) * qi > total,
            # 2^(dim-1-i) via double pow: exact for any dim <= 53 bits,
            # and shiftleft cannot take a per-element shift amount.
            F.pow(F.lit(2.0), (F.lit(dim - 1) - i).cast("double")).cast(
                "bigint"
            ),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda a, x: a + x)


def ahash_frame(
    feats: DataFrame,
    *,
    id_col: str = "media_id",
    features_col: str = "features",
    dim: int = FEATURE_DIM,
    hash_col: str = "phash",
) -> DataFrame:
    """(id, ``dim``-bit aHash fingerprint) as an exploded
    window+groupBy plan — bit-identical to :func:`ahash` (same integer
    q_i = round(255*f_i) levels, same dim*q_i > sum q decisions) but
    built for WIDE fingerprints: higher-order-function lambdas evaluate
    interpreted (the measured ~3.4x penalty that moved
    minhash_signatures to explode+groupBy), so :func:`ahash`'s
    per-element zip_with/aggregate cost grows with dim while this
    shape stays in whole-stage codegen. One shuffle: the window's
    per-id partition feeds the grouped bit sum directly."""
    from pyspark.sql import Window

    q = F.round(F.col("f").cast("double") * 255).cast("bigint")
    exploded = feats.select(
        F.col(id_col), F.posexplode(features_col).alias("i", "f")
    ).select(id_col, "i", q.alias("q"))
    total = F.sum("q").over(Window.partitionBy(id_col))
    # 2^(dim-1-i) via double pow: exact for dim <= 53 bits per weight
    # (dim <= 60 keeps every weight below 2^59, inside the exact-double
    # integer range), and shiftleft cannot take a per-row shift amount.
    weight = F.pow(
        F.lit(2.0), (F.lit(dim - 1) - F.col("i")).cast("double")
    ).cast("bigint")
    bit = F.when(F.lit(dim) * F.col("q") > F.col("total"), weight).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        exploded.withColumn("total", total)
        .groupBy(id_col)
        .agg(F.sum(bit).cast("bigint").alias(hash_col))
    )


def phash_pairs(
    hashed: DataFrame,
    *,
    id_col: str = "media_id",
    hash_col: str = "phash",
    dim: int = FEATURE_DIM,
    bands: int = 4,
    max_distance: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate media pairs by fingerprint hamming distance, with
    BANDED discovery: the ``dim``-bit hash splits into ``bands`` equal
    bit-slices, candidates come from an equi-join on (band, slice) —
    pigeonhole-complete for ``max_distance < bands`` — and only
    candidates pay the exact ``bit_count(xor)`` check. Never all-pairs:
    the shuffle keys are (band index, slice value) ints.

    ``max_bucket`` is the worst-bucket guard (the max_df/max_block/
    max_cell=64 discipline): a (band, slice) bucket larger than the cap
    is a degenerate discriminator — a slice value shared by that many
    fingerprints contributes ~bucket^2 candidates and almost no true
    near-dups — and is dropped from discovery. A pair can still be
    found through any of its other bands (capping trades bounded recall
    for the quadratic worst bucket, exactly like stop-shingles). None
    disables the cap.

    Output: (id_a, id_b, hamming), id_a < id_b, deduplicated across
    bands."""
    if max_distance >= bands:
        raise ValueError(
            "pigeonhole completeness needs max_distance < bands"
        )
    if dim % bands != 0:
        # a remainder would leave the top dim % bands hash bits out of
        # every band slice — silently weaker candidate discrimination.
        raise ValueError(f"bands ({bands}) must divide dim ({dim})")
    from takuan_zoo.operators.skew import materialize

    # both sides of the band join slice the same fingerprint frame;
    # unmaterialized, the upstream decode (mapInPandas) would run twice.
    hashed = materialize(hashed.select(id_col, hash_col))
    band_bits = dim // bands
    mask = (1 << band_bits) - 1
    slices = F.array(
        *[
            F.shiftright(F.col(hash_col), band * band_bits).bitwiseAND(
                F.lit(mask)
            )
            for band in range(bands)
        ]
    )
    sliced = hashed.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("h"),
        F.posexplode(slices).alias("band", "slice"),
    )
    if max_bucket is not None:
        # bucket census is at most bands x 2^(dim/bands) rows (and at
        # most bands x corpus) — a small aggregate AQE broadcasts; the
        # join prunes saturated buckets before any pair materializes.
        small = (
            sliced.groupBy("band", "slice")
            .agg(F.count(F.lit(1)).alias("_bc"))
            .where(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )
        sliced = sliced.join(small, ["band", "slice"])
    right = sliced.select(
        F.col("id").alias("id_b"),
        F.col("h").alias("h_b"),
        F.col("band"),
        F.col("slice"),
    )
    cand = (
        sliced.join(right, ["band", "slice"])
        .where(F.col("id") < F.col("id_b"))
        .select(
            F.col("id").alias("id_a"), "id_b", F.col("h").alias("h_a"), "h_b"
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        .cast("int")
        .alias("hamming"),
    ).where(F.col("hamming") <= max_distance)


def resize_images(
    media: DataFrame,
    *,
    width: int,
    height: int,
    resizer: Callable[[bytes], bytes] | None = None,
    payload_col: str = "payload",
    id_col: str = "media_id",
    on_error: str = "null",
) -> DataFrame:
    """media table → (media_id, payload, width, height, payload_bytes)
    with every payload re-encoded at (width, height) — the thumbnail /
    normalization pass of an image pipeline, as Arrow-batched
    mapInPandas like every decode stage. Default resizer is the REAL
    stdlib BMP path (:func:`bmp_resize`); other codecs plug into the
    same hook. Error contract matches :func:`extract_features`: a
    corrupt payload quarantines to a NULL row (``on_error="null"``) or
    propagates (``"raise"``); ``NotImplementedError`` ALWAYS propagates
    — a missing codec is a configuration bug, not bad data, and must
    not silently empty a corpus pass."""
    if on_error not in ("null", "raise"):
        raise ValueError(f"on_error must be 'null' or 'raise', got {on_error!r}")
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("payload", BinaryType(), True),
            StructField("width", IntegerType(), True),
            StructField("height", IntegerType(), True),
            StructField("payload_bytes", IntegerType(), True),
        ]
    )
    rz = resizer or (lambda p: bmp_resize(p, width=width, height=height))

    def _one(p) -> bytes | None:
        if p is None:
            return None
        try:
            return rz(bytes(p))
        except NotImplementedError:
            raise
        except Exception:
            if on_error == "raise":
                raise
            return None

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_one(p) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": out,
                    "width": [width if o is not None else None for o in out],
                    "height": [
                        height if o is not None else None for o in out
                    ],
                    "payload_bytes": [
                        len(o) if o is not None else None for o in out
                    ],
                }
            )

    return media.select(id_col, payload_col).mapInPandas(
        _resize, schema=out_schema
    )


def media_summary(media: DataFrame) -> DataFrame:
    """Metadata-only aggregate — never touches the payload column: byte
    sizes come from the stored ``payload_bytes`` metadata column, so
    column pruning keeps the blob bytes unread (the scan projects
    (kind, payload_bytes) only — at 100 TB of media that is the whole
    game). Counts + payload byte size stats per kind."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("payload_bytes").alias("total_bytes"),
        F.round(F.avg("payload_bytes"), 2).alias("avg_bytes"),
    )


def sample_frames(
    media: DataFrame,
    *,
    every_ms: int = 1000,
    id_col: str = "media_id",
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled timestamp
    (decode stubbed; the row explosion and timestamps are the real
    plumbing). Output: (media_id, frame_ts_ms)."""
    n_frames = F.greatest(
        (F.col("duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    ts = F.transform(
        F.sequence(F.lit(0), n_frames - 1), lambda i: i * every_ms
    )
    return (
        media.where(F.col("kind") == "video")
        .select(F.col(id_col), F.explode(ts).alias("frame_ts_ms"))
    )


def synth_wav(doc_id: int, *, n_frames: int = 32, frame_samples: int = 256,
              amplitude: int = 16384) -> bytes:
    """Deterministic 16-bit mono PCM WAV: frame ``f`` is a full-frame
    square wave of ``amplitude`` iff the md5-derived bit for
    ``"{doc_id}:{f}"`` is 1, else silence. The same md5 derivation is
    expressible in SQL (operators/hashing.py spelling), so a query
    that DECODES this audio with the real ``wave`` reader can still be
    value-checked by an external engine that re-derives the loudness
    plan arithmetically — the mm_feature_extract pattern, applied to a
    REAL codec path."""
    import io
    import wave

    import numpy as np

    samples = np.zeros(n_frames * frame_samples, dtype=np.int16)
    for f in range(n_frames):
        bit = int(hashlib.md5(f"{doc_id}:{f}".encode()).hexdigest()[:8], 16) % 2
        if bit:
            seg = np.empty(frame_samples, dtype=np.int16)
            seg[0::2] = amplitude
            seg[1::2] = -amplitude
            samples[f * frame_samples : (f + 1) * frame_samples] = seg
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def wav_frame_rms(payload, *, n_frames: int = 32):
    """Per-payload WAV decode → ``n_frames`` full-scale-normalized RMS
    values (np.float64 array), or None for a corrupt/unsupported
    payload. The single-payload core of :func:`frame_rms`, exposed so
    a fixture-synthesizing query can fuse synth + decode into ONE
    Python stage (the blob never crosses the JVM boundary — the same
    shape a storage-read pipeline has, where binaryFile feeds one
    decode stage)."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(bytes(payload))) as w:
            width = w.getsampwidth()
            channels = w.getnchannels()
            raw = w.readframes(w.getnframes())
        if width != 2:
            raise ValueError("frame_rms expects 16-bit PCM")
        if channels != 1:
            # a stereo payload would silently decode as a
            # doubled-length mono stream and shift every frame
            # boundary — quarantine it like any corrupt record
            raise ValueError("frame_rms expects mono PCM")
        x = np.frombuffer(raw, dtype=np.int16).astype(np.float64)
        if x.size and x.size % n_frames == 0:
            # equal-width frames: ONE reshaped mean, no per-frame
            # Python loop (the common case — fixed-rate capture)
            seg = x.reshape(n_frames, -1)
            return np.sqrt((seg * seg).mean(axis=1)) / 32768.0
        out = np.zeros(n_frames, dtype=np.float64)
        for f, s in enumerate(np.array_split(x, n_frames)):
            if s.size:
                out[f] = np.sqrt((s * s).mean()) / 32768.0
        return out
    except Exception:
        return None


def bmp_mean_intensity(payload) -> float | None:
    """Per-payload BMP decode → mean of all channel bytes, or None for
    a corrupt payload. The single-payload core of
    :func:`frame_intensity` (same fusion rationale as
    :func:`wav_frame_rms`)."""
    import numpy as np

    try:
        return float(
            np.asarray(bmp_pixels(bytes(payload)), dtype=np.float64).mean()
        )
    except Exception:
        return None


def frame_rms(
    media: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    n_frames: int = 32,
) -> DataFrame:
    """WAV payload → one row per fixed-width time frame with its RMS
    energy (full-scale normalized): (id, frame, rms float). The REAL
    stdlib ``wave`` decode runs once per payload inside the Arrow
    batch loop; corrupt payloads quarantine to a single NULL-rms row
    at frame -1 (same per-record philosophy as extract_features).
    Downstream segmentation is pure DataFrame ops — only the codec
    itself is Python."""
    import io
    import wave

    import numpy as np

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("frame", IntegerType(), False),
            StructField("rms", FloatType(), True),
        ]
    )

    def _frames(p):
        return wav_frame_rms(p, n_frames=n_frames)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            good_ids, good_vals, bad_ids = [], [], []
            for mid, p in zip(pdf[id_col], pdf[payload_col]):
                vals = _frames(p) if p is not None else None
                if vals is None:
                    bad_ids.append(mid)
                else:
                    good_ids.append(mid)
                    good_vals.append(vals)
            parts = []
            if good_ids:
                parts.append(
                    pd.DataFrame(
                        {
                            id_col: np.repeat(
                                np.asarray(good_ids, dtype=np.int64), n_frames
                            ),
                            "frame": np.tile(
                                np.arange(n_frames, dtype=np.int32),
                                len(good_ids),
                            ),
                            "rms": np.concatenate(good_vals),
                        }
                    )
                )
            if bad_ids:
                parts.append(
                    pd.DataFrame(
                        {
                            id_col: np.asarray(bad_ids, dtype=np.int64),
                            "frame": np.full(len(bad_ids), -1, dtype=np.int32),
                            "rms": np.full(len(bad_ids), np.nan),
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {id_col: [], "frame": [], "rms": []}
                ).astype({id_col: "int64", "frame": "int32", "rms": "float64"})

    return media.select(id_col, payload_col).mapInPandas(
        _decode, schema=out_schema
    )


def audio_segments(
    frames: DataFrame,
    *,
    id_col: str = "media_id",
    threshold: float = 0.25,
) -> DataFrame:
    """Voice/sound-activity segmentation from per-frame RMS rows:
    maximal runs of consecutive frames with rms >= threshold, via
    gaps-and-islands (frame - row_number is constant within a run) —
    O(1) window state per row, parallel across media. Output:
    (id, seg_start, seg_end, n_frames, mean_rms)."""
    loud = frames.where(
        F.col("rms").isNotNull() & (F.col("rms") >= threshold)
    )
    w = Window.partitionBy(id_col).orderBy("frame")
    runs = loud.withColumn(
        "grp", F.col("frame") - F.row_number().over(w)
    )
    return (
        runs.groupBy(id_col, "grp")
        .agg(
            F.min("frame").cast("int").alias("seg_start"),
            F.max("frame").cast("int").alias("seg_end"),
            F.count("*").cast("bigint").alias("n_frames"),
            F.round(F.avg("rms"), 6).alias("mean_rms"),
        )
        .drop("grp")
        .orderBy(id_col, "seg_start")
    )


def synth_video_frame(doc_id: int, frame_id: int, *, size: int = 8) -> bytes:
    """Deterministic 24-bit BMP "video frame": a uniform gray whose
    intensity follows an md5-derived piecewise-constant shot
    trajectory — frame f starts a new shot iff f == 0 or
    md5("{doc_id}:vid:{f}") % 4 == 0, and the shot's intensity is
    md5("{doc_id}:lvl:{f}") % 256 at its opening frame (carried
    forward until the next shot). Both derivations are plain SQL
    (md5 + modulo + a last_value-ignore-nulls carry), so a query
    that DECODES these frames with the real BMP reader is still
    value-checkable by an external engine — the synth_wav contract
    for the image codec."""
    import numpy as np

    lvl = None
    for f in range(frame_id, -1, -1):
        is_cut = f == 0 or (
            int(hashlib.md5(f"{doc_id}:vid:{f}".encode()).hexdigest()[:8], 16)
            % 4
            == 0
        )
        if is_cut:
            lvl = (
                int(
                    hashlib.md5(f"{doc_id}:lvl:{f}".encode()).hexdigest()[:8],
                    16,
                )
                % 256
            )
            break
    img = np.full((size, size, 3), lvl, dtype=np.uint8)
    return bmp_encode(img)


def frame_intensity(
    frames: DataFrame,
    *,
    payload_col: str = "payload",
    id_col: str = "media_id",
    frame_col: str = "frame_id",
) -> DataFrame:
    """Per-frame mean intensity from a REAL BMP decode: (id, frame,
    intensity double = mean of all decoded channel bytes). The codec
    (bmp_pixels) runs once per payload inside the Arrow batch loop;
    corrupt payloads quarantine to a NULL-intensity row (frame kept,
    so the temporal axis stays dense for diagnostics). Everything
    after — cut detection, shot segmentation — is pure DataFrame
    ops."""
    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(frame_col, IntegerType(), False),
            StructField("intensity", DoubleType(), True),
        ]
    )

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [
                bmp_mean_intensity(p) if p is not None else None
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    frame_col: pdf[frame_col],
                    "intensity": pd.array(vals, dtype="float64"),
                }
            )

    return frames.select(id_col, frame_col, payload_col).mapInPandas(
        _decode, schema=out_schema
    )


def scene_segments(
    intensities: DataFrame,
    *,
    id_col: str = "media_id",
    frame_col: str = "frame_id",
    threshold: float = 8.0,
) -> DataFrame:
    """Shot/scene segmentation from per-frame intensities: a cut is
    declared wherever the frame-to-frame intensity jump reaches
    ``threshold`` (or at frame 0), shots are the spans between cuts
    (running cut count via one window), and each shot reports its
    span and intensity profile. The standard frame-differencing
    scene detector, reduced to two windows and a groupBy — state per
    row is O(1), media partition independently at any corpus size.
    Output: (id, shot_id, shot_start, shot_end, n_frames,
    avg_intensity).

    Quarantined (NULL-intensity) frames join the CURRENT shot, and cut
    detection compares each valid frame against the LAST VALID frame
    rather than the literal predecessor — a bare lag() would let one
    corrupt frame NULL-poison both its own comparison and its
    successor's, silently merging shots across it (a real 10->80 jump
    straddling a corrupt frame must still cut)."""
    w = Window.partitionBy(id_col).orderBy(frame_col)
    prev_valid = F.last("intensity", ignorenulls=True).over(
        Window.partitionBy(id_col)
        .orderBy(frame_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cuts = intensities.withColumn(
        "is_cut",
        (
            F.row_number().over(w)
            == 1
        )
        | (
            F.abs(F.col("intensity") - prev_valid)
            >= threshold
        ),
    )
    run = (
        Window.partitionBy(id_col)
        .orderBy(frame_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shots = cuts.withColumn(
        "shot_id", F.sum(F.col("is_cut").cast("int")).over(run)
    )
    return (
        shots.groupBy(id_col, "shot_id")
        .agg(
            F.min(frame_col).cast("int").alias("shot_start"),
            F.max(frame_col).cast("int").alias("shot_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.round(F.avg("intensity"), 6).alias("avg_intensity"),
        )
        .select(
            id_col,
            F.col("shot_id").cast("int").alias("shot_id"),
            "shot_start",
            "shot_end",
            "n_frames",
            "avg_intensity",
        )
        .orderBy(id_col, "shot_start")
    )
