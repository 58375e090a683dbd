"""Multimodal plumbing tests: schema, batching, stubbed and real decode."""

from __future__ import annotations

import pytest
from media_fixtures import MEDIA_SCHEMA, deterministic_fake_decoder

from sm_etl_cloud_run_spark.operators.multimodal import extract_features


def _media(spark):
    rows = [
        (1, "image", b"imgbytes", ("image/png", 64, 64, None)),
        (2, "video", b"vidbytes", ("video/mp4", 320, 240, 3500)),
        (3, "audio", None, ("audio/wav", None, None, 2000)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_fake_decoder(spark):
    out = extract_features(_media(spark), decode_fn=deterministic_fake_decoder).collect()
    rows = {r["media_id"]: r for r in out}
    assert len(rows[1]["feature"]) == 8
    assert rows[1]["n_bytes"] == 8 and rows[3]["n_bytes"] == 0
    # deterministic: same payload → same features
    again = {r["media_id"]: r for r in extract_features(_media(spark), decode_fn=deterministic_fake_decoder).collect()}
    assert rows[1]["feature"] == again[1]["feature"]


def test_extract_features_default_rejects_unknown_format(spark):
    # _media payloads are arbitrary bytes, not BMP/WAV — the real default
    # codec must fail loudly, not emit garbage features
    with pytest.raises(Exception, match="unrecognized media payload|UnsupportedMedia"):
        extract_features(_media(spark), decode_fn=None).collect()


def test_extract_features_real_codecs(spark):
    import numpy as np

    from sm_etl_cloud_run_spark.functions.codecs import encode_bmp, encode_wav_pcm16

    px = np.empty((4, 6, 3), np.uint8)
    px[:, :] = (10, 20, 30)
    wav = np.full(8000, 5000, np.int16)
    wav[1::2] = -5000
    media = spark.createDataFrame(
        [(1, "image", bytearray(encode_bmp(px))), (2, "audio", bytearray(encode_wav_pcm16(wav, 8000)))],
        "media_id long, kind string, payload binary",
    )
    rows = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert rows[1][:3] == [1.0, 6.0, 4.0] and rows[1][3:6] == [10.0, 20.0, 30.0]
    assert rows[2][0] == 2.0 and rows[2][1] == 8000.0
    assert rows[2][3] == 1000.0  # duration_ms
    assert rows[2][4] == 5000.0  # rms of a full-scale square wave = amplitude

