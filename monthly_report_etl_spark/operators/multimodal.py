"""Multimodal (image/audio/video) column handling.

Design for opaque media at 100 TB (BASELINE.json north star): media
payloads are ``binary`` columns with typed metadata alongside; decode /
feature-extract / resize / frame-sample run as Arrow-batched Pandas
functions over ``mapInPandas`` — the only place Python touches data, with
columnar Arrow transfer and per-partition batch iteration (never per-row
serde). Partitioning, schema, UDF signature and batch shape are real and
tested; the codec call itself is STUBBED (this container has no
PIL/ffmpeg): ``_decode_payload`` derives deterministic fake pixels from
the bytes, and a real decoder drops in behind ``try: import PIL`` without
touching any Spark-side shape.

For the driver tables (no binary column exists), payloads are synthesized
as ``encode(text, 'utf-8')`` from ``documents`` — byte-level semantics are
identical to real media blobs as far as the engine is concerned.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # real codecs, if ever present in the image
    import PIL.Image  # noqa: F401

    _HAS_PIL = True
except Exception:  # pragma: no cover - container has no PIL
    _HAS_PIL = False

FRAME_SIZE = 64  # bytes per synthetic "frame"

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        # 4 histogram bins as scalar columns (NOT ArrayType): downstream
        # canonicalizers (pandas sort/hash) cannot order list cells, and
        # scalar bins stay fully codegen/Arrow friendly.
        T.StructField("hist_bin0", T.LongType()),
        T.StructField("hist_bin1", T.LongType()),
        T.StructField("hist_bin2", T.LongType()),
        T.StructField("hist_bin3", T.LongType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_mean", T.DoubleType()),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` text → opaque binary payload + metadata (the stand-in
    media table; a real pipeline reads parquet with a binary column)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def _round6(x: float) -> float:
    """Round half-AWAY-from-zero at 6 decimals, matching DuckDB ``ROUND``.

    Python's builtin ``round`` is half-to-even: a mean that lands on an
    exactly representable dyadic midpoint at 6 decimals (n_bytes a multiple
    of 128 with the right sum parity → mean = m + 1/128) would round down
    on the Python side and up in the oracle. Byte means are non-negative,
    so half-up IS half-away here.
    """
    return math.floor(x * 1e6 + 0.5) / 1e6


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decode (zlib inflate + per-row unfiltering) for
    8-bit-depth non-interlaced grayscale/RGB/RGBA images — the fallback
    codec behind the PIL seam so the real-codec path is exercised even
    where PIL is absent (VERDICT r3 stretch item). Sequential-scan
    unfilter (Sub/Up/Average/Paeth per the PNG spec) — a test/fixture
    decoder, not a throughput path."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat = 8, b""
    w = h = bit_depth = color_type = interlace = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if bit_depth != 8 or interlace != 0 or channels is None:
        raise NotImplementedError(
            f"stdlib PNG fallback handles 8-bit non-interlaced gray/RGB/RGBA "
            f"only (depth={bit_depth}, color={color_type}, interlace={interlace})"
        )
    raw = zlib.decompress(idat)
    stride, bpp = w * channels, channels
    out = bytearray()
    prev = bytes(stride)
    for r in range(h):
        ft = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        prev = bytes(line)
        out += prev
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _decode_payload(payload: bytes, media_type: str = "text/plain") -> np.ndarray:
    """Decode bytes → flat uint8 'pixel' array.

    ``image/*`` payloads decode through PIL when it is installed (the
    drop-in codec seam — Spark-side schema/batching/partitioning is
    identical either way); without PIL, PNGs fall back to the stdlib
    decoder above and other image formats raise a clear error rather
    than silently faking. Non-image payloads (and everything in the
    driver tables, which synthesizes text/plain) use the deterministic
    byte view.
    """
    if media_type.startswith("image/"):
        if _HAS_PIL:
            import io

            return (
                np.asarray(PIL.Image.open(io.BytesIO(payload)))
                .reshape(-1)
                .astype(np.uint8)
            )
        if media_type == "image/png":
            return _decode_png(payload)
        raise NotImplementedError(
            f"decoding {media_type} requires PIL (not in this container)"
        )
    return np.frombuffer(payload, dtype=np.uint8)


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"], pdf["media_type"]):
            # NULL payload (r15 boundary fix): bytes(None) raises TypeError,
            # crashing the whole job for ONE null media row; a no-byte
            # payload has no feature row (a mean over zero bytes is
            # undefined). Both mirror the oracle, whose per-byte unnest
            # emits zero rows for NULL/empty docs so they are simply
            # absent from the GROUP BY.
            if payload is None:
                continue
            px = _decode_payload(bytes(payload), str(mt))
            if px.size == 0:
                continue
            hist = np.bincount(px // 64, minlength=4)[:4]
            feats.append(
                (
                    int(doc_id),
                    int(px.size),
                    # byte values are ints → the sum is exact in float64,
                    # so mean == oracle AVG bit-for-bit; _round6 pins the
                    # comparison form on both sides (DuckDB half-away)
                    _round6(float(px.mean())),
                    int(hist[0]),
                    int(hist[1]),
                    int(hist[2]),
                    int(hist[3]),
                )
            )
        yield pd.DataFrame(
            feats,
            columns=["doc_id", "n_bytes", "mean_byte", "hist_bin0", "hist_bin1", "hist_bin2", "hist_bin3"],
        )


def decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the media table via Arrow-batched
    ``mapInPandas`` — one Python round-trip per partition batch, schema
    declared up front, embarrassingly parallel (no shuffle)."""
    return media_table(spark, sf_dir).mapInPandas(_feature_batches, FEATURE_SCHEMA)


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"], pdf["media_type"]):
            if payload is None:  # r15: bytes(None) raises; oracle emits no rows
                continue
            px = _decode_payload(bytes(payload), str(mt))
            for i in range(0, px.size, FRAME_SIZE):
                frame = px[i : i + FRAME_SIZE]
                rows.append((int(doc_id), i // FRAME_SIZE, _round6(float(frame.mean()))))
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_mean"])


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (video-style fan-out): each payload expands to
    ceil(n/FRAME_SIZE) frame rows inside the same Arrow batch pass."""
    return media_table(spark, sf_dir).mapInPandas(_frame_batches, FRAME_SCHEMA)


# Byte-level metadata is pure engine-side expression work → oracle-checkable
BYTE_STATS_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(length(text) AS BIGINT) AS n_chars_exact
FROM documents
"""


def byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
        F.length("text").cast("long").alias("n_chars_exact"),
    )


# r16 (found by probing the multimodal family against the fuzzer's
# unicode corpus): the old oracles modeled the payload as the per-CHAR
# ascii() stream, valid only for pure-ASCII text (the sf corpora are;
# the fuzz corpus is not — 'café' is 4 chars but 5 UTF-8 bytes, and a
# multibyte char's ascii() is its CODEPOINT, not its bytes). The
# oracles now reconstruct the TRUE UTF-8 byte stream in SQL —
# hex(encode(text)) → per-byte hex-pair parse — so the whole family is
# byte-exact on arbitrary unicode and fully fuzzable. Byte values are
# ints, so AVG sums exactly in float64: numpy mean == SQL AVG
# bit-for-bit, and ROUND(_, 6) on both sides is purely cosmetic.
# (text <> '' keeps the r15 empty-doc guard: the Spark side emits no
# feature row for a zero-byte payload and skips NULL payloads.)
_BYTES_CTE = """h AS (
    SELECT doc_id, hex(encode(text)) AS hx,
           CAST(octet_length(encode(text)) AS BIGINT) AS nb
    FROM documents WHERE text <> ''
),
b AS (
    SELECT doc_id, CAST(i AS BIGINT) AS i,
           (strpos('0123456789ABCDEF',
                   substr(hx, 2 * CAST(i AS INTEGER) - 1, 1)) - 1) * 16
         + (strpos('0123456789ABCDEF',
                   substr(hx, 2 * CAST(i AS INTEGER), 1)) - 1) AS byte
    FROM h, LATERAL (SELECT unnest(generate_series(1, nb)) AS i) g
)"""

DECODE_FEATURES_ORACLE = f"""
WITH {_BYTES_CTE}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bytes,
       ROUND(AVG(byte), 6) AS mean_byte,
       CAST(count(*) FILTER (WHERE byte < 64) AS BIGINT) AS hist_bin0,
       CAST(count(*) FILTER (WHERE byte >= 64 AND byte < 128) AS BIGINT) AS hist_bin1,
       CAST(count(*) FILTER (WHERE byte >= 128 AND byte < 192) AS BIGINT) AS hist_bin2,
       CAST(count(*) FILTER (WHERE byte >= 192) AS BIGINT) AS hist_bin3
FROM b GROUP BY doc_id
"""

FRAME_SAMPLE_ORACLE = f"""
WITH {_BYTES_CTE}
SELECT doc_id,
       CAST(FLOOR((i - 1) / {FRAME_SIZE}) AS BIGINT) AS frame_idx,
       ROUND(AVG(byte), 6) AS frame_mean
FROM b GROUP BY doc_id, frame_idx
"""

AUDIO_WINDOW = 256  # samples per RMS window

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_idx", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms_raw", T.DoubleType()),
    ]
)


def _audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload, mt in zip(pdf["doc_id"], pdf["payload"], pdf["media_type"]):
            if payload is None:  # r15: bytes(None) raises; oracle emits no rows
                continue
            raw = _decode_payload(bytes(payload), str(mt))
            # bytes → little-endian signed 16-bit PCM; odd trailing byte dropped
            smp = raw[: 2 * (raw.size // 2)].view(np.uint8).tobytes()
            pcm = np.frombuffer(smp, dtype="<i2").astype(np.float64)
            for i in range(0, pcm.size, AUDIO_WINDOW):
                w = pcm[i : i + AUDIO_WINDOW]
                # squares are ints < 2^30, window sums < 2^53 → the mean is
                # exact in float64 regardless of summation order, and IEEE
                # sqrt is correctly rounded: bit-identical to the oracle
                rows.append(
                    (int(doc_id), i // AUDIO_WINDOW, int(w.size), float(np.sqrt(np.mean(w * w))))
                )
        yield pd.DataFrame(rows, columns=["doc_id", "window_idx", "n_samples", "rms_raw"])


def audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction (windowed RMS energy): payload bytes as
    little-endian int16 PCM, ``AUDIO_WINDOW``-sample windows, RMS per
    window — the silence-trim / voice-activity primitive. Same seam as
    the image path: a real pipeline swaps ``_decode_payload`` for an
    audio codec; the Spark plumbing (Arrow-batched ``mapInPandas``,
    schema up front, zero shuffles) is identical either way. Rounding is
    applied as a Spark-side ``F.round`` AFTER the UDF, never in Python
    (half-even vs half-away divergence)."""
    return (
        media_table(spark, sf_dir)
        .mapInPandas(_audio_batches, AUDIO_SCHEMA)
        .select(
            "doc_id",
            "window_idx",
            "n_samples",
            F.round("rms_raw", 6).alias("rms"),
        )
    )


# sample k = byte(2k+1) + 256*byte(2k+2) over the TRUE UTF-8 byte
# stream (r16, see _BYTES_CTE note — the old per-char ascii() model was
# ASCII-only); the lo/hi self-join on consecutive byte indices drops an
# odd trailing byte exactly like the Spark side's 2*(n//2) truncation,
# and the signed fold is written out on both sides so the contract is
# the true little-endian int16 one
AUDIO_RMS_ORACLE = f"""
WITH {_BYTES_CTE},
s AS (
    SELECT lo.doc_id, CAST((lo.i - 1) // 2 AS BIGINT) AS k,
           lo.byte + 256 * hi.byte AS u
    FROM b lo JOIN b hi ON hi.doc_id = lo.doc_id AND hi.i = lo.i + 1
    WHERE lo.i % 2 = 1
),
v AS (
    SELECT doc_id, k,
           CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS smp
    FROM s
)
SELECT doc_id,
       CAST(FLOOR(k / {AUDIO_WINDOW}) AS BIGINT) AS window_idx,
       CAST(count(*) AS BIGINT) AS n_samples,
       ROUND(sqrt(AVG(smp * smp * 1.0)), 6) AS rms
FROM v
GROUP BY doc_id, 2
"""


CATALOG: dict[str, tuple] = {
    "multimodal_byte_stats": (byte_stats, BYTE_STATS_ORACLE),
    "multimodal_audio_rms": (audio_rms, AUDIO_RMS_ORACLE),
    "multimodal_decode_features": (decode_features, DECODE_FEATURES_ORACLE),
    "multimodal_frame_sample": (frame_sample, FRAME_SAMPLE_ORACLE),
}
