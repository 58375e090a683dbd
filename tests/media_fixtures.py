"""Shared test fixtures for the media codecs and multimodal operators.

A PNG encoder (the engine only decodes PNG), the media row schema, and
a content-derived fake decode kernel, so tests can fabricate
payloads and exercise the mapInPandas plumbing without codec libraries.
"""

from __future__ import annotations

import hashlib
import struct
import sys
import zlib

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import types as T

from sm_etl_cloud_run_spark.functions.codecs import _PNG_SIG

# Python workers do not have tests/ on their path: ship the fake
# kernels by value, not as `media_fixtures.<name>` references.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB array → PNG bytes (8-bit truecolor,
    filter 0 rows, zlib-compressed, non-interlaced)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_png expects an (h, w, 3) RGB array")
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(raw, 6))
        + png_chunk(b"IEND", b"")
    )


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def deterministic_fake_decoder(payload: bytes, dim: int = 8) -> list[float]:
    """Content-derived fake feature vector (sha256-seeded)."""
    h = hashlib.sha256(payload or b"").digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)]

