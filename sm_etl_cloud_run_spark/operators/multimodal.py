"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Scale-layer operators (not in the reference): media travel as
`binary` payload + typed metadata struct; decode / feature-extract /
resize run as Arrow-batched pandas transforms over
`mapInPandas` — the payload never leaves the executors, and each batch
is a bounded Arrow chunk, so 100 TB of media streams through without
driver involvement.

Decode is REAL for the formats the dependency-free codecs in
`functions/codecs.py` cover: 24-bit BMP and PCM-16 WAV, parsed from
the public file layouts with struct+numpy. `decode_fn=None` /
`resize_fn=None` default to those codecs; compressed formats
(JPEG/PNG/MP3/video) raise `UnsupportedMediaError` because the
libraries they need (PIL/librosa/ffmpeg) are absent from this
container.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id long, kind string, feature array<float>, n_bytes long"


def extract_features(
    media: DataFrame,
    *,
    decode_fn: Callable[[bytes], list[float]] | None = None,
    batch_limit: int = 256,
) -> DataFrame:
    """Decode payloads → fixed-width feature vectors via mapInPandas.

    `decode_fn=None` uses the real dependency-free codecs
    (`functions.codecs.media_feature_decoder`: BMP + WAV; other formats
    raise `UnsupportedMediaError`).
    """

    if decode_fn is None:
        from ..functions.codecs import media_feature_decoder

        decode_fn = media_feature_decoder

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Bound per-yield batch size: media payloads are large, so
            # re-chunk instead of emitting one huge Arrow batch.
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start : start + batch_limit]
                feats = [decode_fn(bytes(p) if p is not None else b"") for p in chunk["payload"]]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "kind": chunk["kind"].values,
                        "feature": feats,
                        "n_bytes": [len(p) if p is not None else 0 for p in chunk["payload"]],
                    }
                )

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


RESIZED_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "width int, height int, n_bytes long"
)


def resize_images(
    media: DataFrame,
    *,
    target: tuple[int, int] = (224, 224),
    resize_fn: Callable[[bytes, int, int], bytes] | None = None,
    batch_limit: int = 64,
) -> DataFrame:
    """Resize image payloads to `target` via mapInPandas.

    Same kernel contract as `extract_features`: `resize_fn=None` uses
    the real dependency-free nearest-neighbor BMP resizer
    (`functions.codecs.resize_bmp`; non-BMP formats raise
    `UnsupportedMediaError` — PIL is absent here). Non-image rows are
    filtered Spark-side so the Python kernel only ever sees work it can
    act on, and batches are re-chunked (`batch_limit`) because resized
    payloads are large — one huge Arrow batch per partition would spike
    executor memory.
    """
    w, h = target
    if resize_fn is None:
        from ..functions.codecs import resize_bmp

        resize_fn = resize_bmp

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start : start + batch_limit]
                out = [
                    resize_fn(bytes(p) if p is not None else b"", w, h)
                    for p in chunk["payload"]
                ]
                yield pd.DataFrame(
                    {
                        "media_id": chunk["media_id"].values,
                        "kind": chunk["kind"].values,
                        "payload": out,
                        "width": [w] * len(chunk),
                        "height": [h] * len(chunk),
                        "n_bytes": [len(b) for b in out],
                    }
                )

    return media.where(F.col("kind") == "image").mapInPandas(kernel, RESIZED_SCHEMA)
