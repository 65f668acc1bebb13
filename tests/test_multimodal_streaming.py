"""Tests for the multimodal (Pandas-UDF plumbing) and streaming operators."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from monthly_report_etl_spark.operators import multimodal
from monthly_report_etl_spark.streaming import events_stream


def test_decode_features_match_numpy(spark, sf_dir):
    """The Arrow/mapInPandas path must reproduce a driver-side numpy
    computation exactly (deterministic stub decode)."""
    feats = {r["doc_id"]: r for r in multimodal.decode_features(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20).collect()
    for row in docs:
        px = np.frombuffer(row["text"].encode("utf-8"), dtype=np.uint8)
        got = feats[row["doc_id"]]
        assert got["n_bytes"] == px.size
        assert abs(got["mean_byte"] - round(float(px.mean()), 6)) < 1e-12
        hist = np.bincount(px // 64, minlength=4)[:4]
        assert [got["hist_bin0"], got["hist_bin1"], got["hist_bin2"], got["hist_bin3"]] == [
            int(x) for x in hist
        ]


def test_decode_features_survive_small_arrow_batches(spark, sf_dir):
    """Batch-boundary independence: forcing tiny Arrow batches must not
    change the result (catches per-batch state leaks in the UDF)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        small = multimodal.decode_features(spark, sf_dir)
        n = small.count()
        total = small.agg(F.sum("n_bytes")).collect()[0][0]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    big = multimodal.decode_features(spark, sf_dir)
    assert n == big.count()
    assert total == big.agg(F.sum("n_bytes")).collect()[0][0]


def test_decode_payload_image_seam():
    """The codec seam: image/png decodes through PIL when present and
    through the stdlib fallback when absent (same pixels either way);
    formats with no fallback fail loudly — never silently fake."""
    import struct
    import zlib

    import pytest

    # 4x4 grayscale, all pixels 7, crafted with stdlib only
    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    raw = b"".join(b"\x00" + bytes([7] * 4) for _ in range(4))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    px = multimodal._decode_payload(png, "image/png")
    assert px.shape == (16,) and (px == 7).all()
    if not multimodal._HAS_PIL:
        with pytest.raises(NotImplementedError):
            multimodal._decode_payload(b"\xff\xd8\xff fake jpeg", "image/jpeg")
    # non-image payloads always use the deterministic byte view
    assert list(multimodal._decode_payload(b"ab", "text/plain")) == [97, 98]


def test_frame_sample_fanout(spark, sf_dir):
    frames = multimodal.frame_sample(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expected = docs.select(
        F.ceil(F.length(F.encode(F.col("text"), "utf-8")) / multimodal.FRAME_SIZE).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert frames.count() == expected
    # frame_idx contiguous from 0 per doc
    m = frames.groupBy("doc_id").agg(F.min("frame_idx").alias("lo"), F.max("frame_idx").alias("hi"), F.count("*").alias("c"))
    bad = m.filter((F.col("lo") != 0) | (F.col("c") != F.col("hi") + 1)).count()
    assert bad == 0


def test_streaming_windowed_counts_match_batch(spark, sf_dir):
    """The streaming query over the staged fixture must produce exactly
    the batch tumbling-window aggregation (no late data in a replay, so
    the watermark drops nothing)."""
    streamed = events_stream.run_windowed_counts_once(spark, sf_dir, "wc_test")
    batch = events_stream.tumbling_window_counts(spark, sf_dir)
    s = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"]) for r in streamed.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"]) for r in batch.collect()}
    assert s == b
    assert len(s) > 0


def test_sessionize_properties(spark, sf_dir):
    sessions = events_stream.sessionize_batch(spark, sf_dir)
    from monthly_report_etl_spark.sources.parquet import read_table

    n_events = read_table(spark, sf_dir, "events").count()
    # partition: every event in exactly one session
    assert sessions.agg(F.sum("n_events")).collect()[0][0] == n_events
    # no session spans a gap silently: start <= end everywhere
    assert sessions.filter(F.col("session_start") > F.col("session_end")).count() == 0


def test_real_png_through_decode_features(spark):
    """Round 1 stretch item: a REAL codec payload through the full
    ``decode_features`` operator. The PNG is crafted with stdlib only
    (zlib/struct); it decodes through PIL where installed and through
    the stdlib zlib-unfilter fallback otherwise — no skip either way
    (r5: the PIL-absent container runs the fallback)."""
    import struct
    import zlib

    w, h = 8, 4  # pixels 0..31 row-major

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    raw = b"".join(b"\x00" + bytes(range(r * w, r * w + w)) for r in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame(
        [(1, bytearray(png), "image/png", len(png))],
        "doc_id long, payload binary, media_type string, n_bytes long",
    )
    row = df.mapInPandas(multimodal._feature_batches, multimodal.FEATURE_SCHEMA).collect()[0]
    assert row["n_bytes"] == w * h  # decoded pixel count, not file size
    assert row["mean_byte"] == 15.5
    assert [row[f"hist_bin{i}"] for i in range(4)] == [w * h, 0, 0, 0]


def test_png_fallback_unfilters_every_filter_type():
    """The stdlib PNG fallback must invert all five PNG row filters
    (None/Sub/Up/Average/Paeth). Encode a known RGB image row-by-row
    with each filter per the spec's forward definitions, decode, and
    require the original pixels back."""
    import struct
    import zlib

    import numpy as np

    from monthly_report_etl_spark.operators.multimodal import _decode_png

    w, h, ch = 5, 5, 3
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(h, w * ch), dtype=np.uint8)
    bpp = ch
    raw = bytearray()
    for r, ft in enumerate([0, 1, 2, 3, 4]):
        line = img[r]
        prev = img[r - 1] if r > 0 else np.zeros(w * ch, dtype=np.uint8)
        enc = bytearray()
        for i in range(w * ch):
            x = int(line[i])
            a = int(line[i - bpp]) if i >= bpp else 0
            b = int(prev[i])
            c = int(prev[i - bpp]) if i >= bpp else 0
            if ft == 0:
                f = x
            elif ft == 1:
                f = (x - a) & 0xFF
            elif ft == 2:
                f = (x - b) & 0xFF
            elif ft == 3:
                f = (x - ((a + b) >> 1)) & 0xFF
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f = (x - pr) & 0xFF
            enc.append(f)
        raw += bytes([ft]) + bytes(enc)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    decoded = _decode_png(png)
    assert np.array_equal(decoded, img.reshape(-1))


def test_events_reader_handles_both_ts_layouts(spark, tmp_path):
    """The events fixture has shipped with ts as TIMESTAMP(NANOS)
    (rounds 1-4) and TIMESTAMP(MICROS) (round 5+). Both the batch reader
    and the streaming schema probe must normalize the two physical
    layouts to identical session-TZ timestamps (nanos truncated to
    micros)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from monthly_report_etl_spark.sources.parquet import read_table

    ts = pd.to_datetime(
        [
            "2025-01-01 00:00:00.123456789",
            "2025-01-01 01:00:00.000000001",
            "2025-01-01 02:00:00.5",
        ],
        format="mixed",
    )
    df = pd.DataFrame(
        {
            "event_id": np.arange(3, dtype=np.int64),
            "ts": ts,
            "user_id": np.array([1, 2, 3], dtype=np.int64),
            "event_type": ["view", "click", "view"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    nanos_dir = tmp_path / "nanos"
    micros_dir = tmp_path / "micros"
    nanos_dir.mkdir()
    micros_dir.mkdir()
    # NANOS physical type needs parquet format 2.6 and no coercion
    pq.write_table(
        pa.Table.from_pandas(df),
        str(nanos_dir / "events.parquet"),
        coerce_timestamps=None,
        version="2.6",
    )
    df_us = df.assign(ts=df["ts"].dt.floor("us").astype("datetime64[us]"))
    pq.write_table(pa.Table.from_pandas(df_us), str(micros_dir / "events.parquet"))
    assert (
        str(pq.read_schema(str(nanos_dir / "events.parquet")).field("ts").type)
        == "timestamp[ns]"
    )

    a = {r["event_id"]: r["ts"] for r in read_table(spark, str(nanos_dir), "events").collect()}
    b = {r["event_id"]: r["ts"] for r in read_table(spark, str(micros_dir), "events").collect()}
    assert a == b and len(a) == 3
    assert a[0].microsecond == 123456  # nanos truncated, not rounded

    from monthly_report_etl_spark.streaming import events_stream

    sa = events_stream._read_events_stream(spark, str(nanos_dir))
    sb = events_stream._read_events_stream(spark, str(micros_dir))
    assert sa.isStreaming and sb.isStreaming
    assert sa.schema["ts"].dataType.typeName() == sb.schema["ts"].dataType.typeName() == "timestamp"


def test_dependency_matrix_matches_coverage_doc():
    """COVERAGE.md's container dependency matrix must track reality: if
    PIL appears in this container, this test fails, forcing the doc row
    and the decode fallback it names to be revisited instead of silently
    rotting. Also pins the catalog-entry count the doc cites."""
    import os
    import re

    from monthly_report_etl_spark.catalog import ORACLES, QUERIES
    from monthly_report_etl_spark.operators import multimodal

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "COVERAGE.md")) as f:
        doc = f.read()

    pil_row = next(ln for ln in doc.splitlines() if "| PIL |" in ln)
    assert ("absent" in pil_row) != multimodal._HAS_PIL, (
        f"COVERAGE.md PIL row is stale: _HAS_PIL={multimodal._HAS_PIL}, row {pil_row!r}"
    )

    m = re.search(r"All (\d+) catalog entries carry a DuckDB oracle", doc)
    assert m, "COVERAGE.md lost its catalog-count line"
    assert int(m.group(1)) == len(QUERIES) == len(ORACLES), (
        f"doc says {m.group(1)} entries, catalog has {len(QUERIES)}"
    )
