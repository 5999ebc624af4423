"""Multimodal column plumbing — binary payloads with typed metadata.

Image/audio/video are opaque BINARY columns plus a metadata struct;
decode / feature-extract / resize run as Arrow-batched
``mapInPandas`` stages.

Decoders: REAL for container formats that need no external codec —
24-bit uncompressed BMP (struct header + bottom-up padded rows) and
PCM WAV (RIFF header + int16 samples) are parsed with numpy from the
raw bytes. Compressed codecs (JPEG/MP4) would need libs absent from
this container and stay stubbed behind NotImplementedError with a
deterministic byte-histogram fallback, clearly marked.

The synthetic fixture payloads are generated from closed-form integer
formulas, so a SQL oracle can recompute the decoded features from
(media_id) arithmetic alone — the full Spark path (bytes → decode →
feature) is verified against independent math.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_DIM = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)

# --- real encoders/decoders (no external codec needed) -------------------


def make_bmp(width: int, height: int, pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 BGR array as a 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up rows padded to 4 bytes)."""
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    img_size = (row_bytes + pad) * height
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835,
        0, 0,
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        rows.append(pixels[y].tobytes() + b"\x00" * pad)
    return header + b"".join(rows)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BMP to an (h, w, 3) uint8 BGR
    array. Real parser: header fields drive offsets, rows un-padded and
    re-flipped to top-down."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    if bpp != 24:
        raise NotImplementedError(f"only 24-bit BMP supported, got {bpp}")
    row_bytes = width * 3
    stride = (row_bytes + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * abs(height),
        offset=data_offset,
    ).reshape(abs(height), stride)[:, :row_bytes]
    img = rows.reshape(abs(height), width, 3)
    return img[::-1] if height > 0 else img


def make_wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Encode int16 mono PCM samples as a RIFF/WAVE byte payload."""
    data = samples.astype("<i2").tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
        + struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16
        )
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def decode_wav(payload: bytes) -> np.ndarray:
    """Decode a PCM WAV payload to int16 samples (mono). Real parser:
    walks RIFF chunks to the data chunk."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        if cid == b"data":
            return np.frombuffer(
                payload, dtype="<i2", count=size // 2, offset=pos + 8
            )
        pos += 8 + size + (size & 1)
    raise ValueError("WAV data chunk not found")


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload. BMP decodes for real; compressed
    formats (JPEG/PNG) need codec libs absent from this container."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "only uncompressed BMP decodes in this container; JPEG/PNG need "
        "an image library"
    )


def _byte_histogram_feature(payload: bytes, dim: int = FEATURE_DIM):
    """Deterministic fallback for codec-less payloads (video):
    byte-value accumulation per position class."""
    if payload is None or not len(payload):
        return [0.0] * dim
    arr = np.frombuffer(payload, dtype=np.uint8)
    acc = np.zeros(dim, dtype=np.float64)
    np.add.at(acc, np.arange(len(arr)) % dim, arr)
    n = len(arr)
    return list(acc / n / 255.0)


def media_feature(kind: str, payload: bytes) -> list[float]:
    """Per-kind feature kernel (dim=8, float64):

    image → BMP decode; [mean_B, mean_G, mean_R, mean_all, 4×0 pad],
      channel means normalized /255 (division order: sum/npix/255.0 —
      mirrored by the SQL oracle).
    audio → WAV decode; [mean/32768, mean_abs/32768, rms/32768, peak/
      32768, 4×0 pad].
    video → byte-histogram fallback (no MP4 codec in container).
    """
    if payload is None:
        return [0.0] * FEATURE_DIM
    if kind == "image":
        img = decode_image(payload).astype(np.float64)
        npix = img.shape[0] * img.shape[1]
        means = [img[:, :, c].sum() / npix / 255.0 for c in range(3)]
        mean_all = img.sum() / (npix * 3) / 255.0
        return means + [mean_all, 0.0, 0.0, 0.0, 0.0]
    if kind == "audio":
        s = decode_wav(payload).astype(np.float64)
        n = max(len(s), 1)
        return [
            s.sum() / n / 32768.0,
            np.abs(s).sum() / n / 32768.0,
            float(np.sqrt((s * s).sum() / n) / 32768.0),
            float(np.abs(s).max(initial=0) / 32768.0),
            0.0,
            0.0,
            0.0,
            0.0,
        ]
    return _byte_histogram_feature(payload)


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow batches in; per-payload decode is inherently per-row (real
    codecs are C calls per container), numpy inside. Swapping a model
    embedding in is a one-function change (media_feature).
    """
    import pandas as pd

    def _extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "feature": [
                        media_feature(k, p)
                        for k, p in zip(pdf["kind"], pdf["payload"])
                    ],
                }
            )

    return df.mapInPandas(_extract, FEATURE_SCHEMA)


# --- deterministic fixtures (closed-form → SQL-oracle reproducible) -------

IMG_W, IMG_H = 16, 12
WAV_N = 256


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table. Payloads are REAL containers
    (BMP/WAV) built from integer formulas of (media_id, position) so a
    SQL oracle can recompute decoded features without the bytes:

    image i: BGR pixel (x, y) = ((7i+3x+5y)%256, (11i+x+2y)%256,
      (13i+5x+y)%256), 16×12.
    audio i: sample t = ((37i + 3t²) % 20001) - 10000, 256 samples.
    video i: opaque bytes b[j] = (7i + 13j) % 251, len 64 + i%32
      (no codec — feature falls back to byte histogram).
    """
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if kind == "image":
            y, x = np.mgrid[0:IMG_H, 0:IMG_W]
            px = np.stack(
                [
                    (7 * i + 3 * x + 5 * y) % 256,
                    (11 * i + x + 2 * y) % 256,
                    (13 * i + 5 * x + y) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
            payload = make_bmp(IMG_W, IMG_H, px)
        elif kind == "audio":
            t = np.arange(WAV_N)
            payload = make_wav(((37 * i + 3 * t * t) % 20001) - 10000)
        else:
            payload = bytes(
                ((i * 7 + j * 13) % 251) for j in range(64 + i % 32)
            )
        rows.append(
            (
                i,
                kind,
                payload,
                {
                    "image": "image/bmp",
                    "audio": "audio/wav",
                    "video": "video/mp4",
                }[kind],
                IMG_W if kind == "image" else None,
                IMG_H if kind == "image" else None,
                (i % 5 + 1) * 1000 if kind == "video" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def multimodal_oracle_sql(n: int = 64) -> str:
    """DuckDB twin of extract_features over synthetic_media(n):
    recomputes n_bytes and feature[0] from the generator formulas —
    an INDEPENDENT derivation (never touches the bytes)."""
    img_px = IMG_W * IMG_H
    img_bytes = 54 + ((IMG_W * 3 + 3) // 4 * 4) * IMG_H
    wav_bytes = 44 + WAV_N * 2
    return f"""
WITH m AS (SELECT i FROM range(0, {n}) t(i)),
feat AS (
  SELECT i,
    CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         ELSE 'video' END AS kind,
    CASE CAST(i % 3 AS INT)
      WHEN 0 THEN CAST({img_bytes} AS BIGINT)
      WHEN 1 THEN CAST({wav_bytes} AS BIGINT)
      ELSE CAST(64 + i % 32 AS BIGINT) END AS n_bytes,
    CASE CAST(i % 3 AS INT)
      WHEN 0 THEN list_sum(list_transform(range(0, {img_px}),
        p -> (7 * i + 3 * (p % {IMG_W}) + 5 * (p // {IMG_W})) % 256))
        / {img_px}.0 / 255.0
      WHEN 1 THEN list_sum(list_transform(range(0, {WAV_N}),
        s -> ((37 * i + 3 * s * s) % 20001) - 10000))
        / {WAV_N}.0 / 32768.0
      ELSE list_sum(list_transform(range(0, 64 + CAST(i % 32 AS BIGINT)),
        j -> CASE WHEN j % {FEATURE_DIM} = 0
                  THEN (i * 7 + j * 13) % 251 ELSE 0 END))
        / (64 + i % 32) / 255.0
    END AS f0
  FROM m)
SELECT i AS media_id, kind, n_bytes, round(f0, 6) AS f0 FROM feat
"""