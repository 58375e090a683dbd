"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Scale-layer operators (not in the reference): media travel as
`binary` payload + typed metadata struct; decode / feature-extract
run as Arrow-batched pandas transforms over `mapInPandas` — the
payload never leaves the executors, and each batch is a bounded Arrow
chunk, so 100 TB of media streams through without driver involvement.

Decode is REAL for the formats the dependency-free codecs in
`functions/codecs.py` cover: 24-bit BMP and PCM-16 WAV, parsed from
the public file layouts with struct+numpy. `decode_fn=None` defaults
to those codecs; compressed formats (JPEG/PNG/MP3/video) raise
`UnsupportedMediaError` because the libraries they need
(PIL/librosa/ffmpeg) are absent from this container.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = "media_id long, kind string, feature array<float>, n_bytes long"
# rows per yielded Arrow batch: media payloads are large
_BATCH_ROWS = 256


def extract_features(
    media: DataFrame,
    *,
    decode_fn: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """Decode payloads → fixed-width feature vectors via mapInPandas.

    `decode_fn=None` uses the real dependency-free codecs
    (`functions.codecs.media_feature_decoder`: BMP + WAV; other formats
    raise `UnsupportedMediaError`); tests pass a fake decoder.
    """

    if decode_fn is None:
        from ..functions.codecs import media_feature_decoder

        decode_fn = media_feature_decoder

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Bound per-yield batch size: media payloads are large, so
            # re-chunk instead of emitting one huge Arrow batch.
            for start in range(0, len(pdf), _BATCH_ROWS):
                chunk = pdf.iloc[start : start + _BATCH_ROWS]
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
