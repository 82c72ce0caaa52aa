"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata (task directive).

Image dimension decode is REAL for the three formats the reference's
crawlers actually collect (``Images`` column, dcinside_politics.py:52-53):
PNG (IHDR), GIF (logical screen descriptor), JPEG (SOF frame header) —
pure-stdlib ``struct`` header parsing, no PIL/cv2 dependency. Any other
image format reports status ``no_decoder``; pixel-level feature vectors
and audio/video decode remain STUBBED — the "feature" emitted for parsed
images is an 8-bin byte histogram, a real but byte-level (not
pixel-level) descriptor.

Design for 100 TB: media bytes never shuffle — decode/feature UDFs run
where the scan runs (mapInPandas over the parquet row groups); only the
small typed metadata/features move afterwards.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURES = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("status", T.StringType(), False),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# JPEG start-of-frame markers that carry dimensions: C0-CF minus the
# non-frame codes C4 (DHT), C8 (JPG extension), CC (DAC)
_JPEG_SOF = {
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
}


def parse_image_header(payload: bytes | None) -> tuple[str, int, int] | None:
    """(format, width, height) from the file header alone — pure stdlib.

    PNG: 8-byte signature, first chunk must be IHDR → two big-endian u32.
    GIF: 'GIF87a'/'GIF89a', logical screen descriptor → two little-endian
    u16. JPEG: walk the marker stream to the first SOF frame header →
    big-endian u16 height then width. Returns None for anything else
    (truncated, not an image, unsupported format).
    """
    if not payload:
        return None
    try:
        if payload[:8] == _PNG_SIG and payload[12:16] == b"IHDR" and len(payload) >= 24:
            w, h = struct.unpack(">II", payload[16:24])
            return ("png", w, h)
        if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
            w, h = struct.unpack("<HH", payload[6:10])
            return ("gif", w, h)
        if payload[:2] == b"\xff\xd8":
            i = 2
            while i + 4 <= len(payload):
                if payload[i] != 0xFF:
                    return None  # broken marker stream
                marker = payload[i + 1]
                if marker == 0xFF:  # fill byte
                    i += 1
                    continue
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers, no length field
                    continue
                (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
                if marker in _JPEG_SOF:
                    if i + 9 > len(payload):
                        return None
                    h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                    return ("jpeg", w, h)
                i += 2 + seg_len
    except struct.error:
        return None
    return None


def _byte_histogram(payload: bytes, bins: int = 8) -> list[float]:
    """Normalized byte-value histogram — a real (byte-level) descriptor
    computable without any media library. One numpy bincount instead of a
    per-byte Python loop (guide §4.2: vectorize inside the UDF) — value
    identical: same integer counts, same float64 division, same half-even
    rounding."""
    if not payload:
        return [0.0] * bins
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    counts = np.bincount(arr // (256 // bins), minlength=bins)
    n = float(len(payload))
    return [round(float(c) / n, 6) for c in counts]


def extract_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas media feature extraction — batch-shaped like production
    (one Arrow batch of payloads in, one slim feature frame out). Reads
    ``media_id``, ``kind`` (image|audio|video) and the binary ``payload``."""

    cols = list(FEATURES.fieldNames())

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # zip over columns, not iterrows: iterrows materializes a pandas
            # Series PER ROW (~100 µs each — it WAS the q40 wall: ~5 s for
            # 50k rows before any decode work; guide §4.2). Row semantics
            # unchanged — same decode, same values, same row order.
            for media_id, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                n = len(payload or b"")
                if kind != "image":  # audio/video: byte-level metadata only (stub)
                    rows.append((media_id, kind, n, None, None, None, "stub"))
                    continue
                hdr = parse_image_header(payload)
                if hdr is None:  # other formats need a pixel decoder (PIL/cv2)
                    rows.append((media_id, kind, None, None, None, None, "no_decoder"))
                else:
                    rows.append((media_id, kind, n, hdr[1], hdr[2],
                                 _byte_histogram(payload), "ok"))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(_run, schema=FEATURES)

