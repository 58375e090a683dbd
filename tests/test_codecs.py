"""Unit tests for the dependency-free BMP/PNG/WAV codecs (functions/codecs.py)."""

from __future__ import annotations

import numpy as np
import pytest
from media_fixtures import encode_png, png_chunk

from sm_etl_cloud_run_spark.functions.codecs import (
    UnsupportedMediaError,
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav_pcm16,
    media_feature_decoder,
    resize_bmp,
)


def test_bmp_roundtrip_odd_width_padding():
    # width 3 → row 9 bytes, padded to 12: exercises the 4-byte stride
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    assert (decode_bmp(encode_bmp(px)) == px).all()


def test_bmp_roundtrip_aligned_width():
    px = np.arange(4 * 8 * 3, dtype=np.uint8).reshape(4, 8, 3)
    out = encode_bmp(px)
    assert out[:2] == b"BM" and len(out) == 54 + 4 * 24
    assert (decode_bmp(out) == px).all()


def test_bmp_rejects_garbage_and_truncation():
    with pytest.raises(UnsupportedMediaError):
        decode_bmp(b"NOTABMP" * 10)
    good = encode_bmp(np.zeros((4, 4, 3), np.uint8))
    with pytest.raises(UnsupportedMediaError):
        decode_bmp(good[:-5])


def test_resize_bmp_downsample_picks_nearest():
    px = np.zeros((4, 4, 3), np.uint8)
    px[2:, 2:] = 200  # bottom-right quadrant
    small = decode_bmp(resize_bmp(encode_bmp(px), 2, 2))
    assert small.shape == (2, 2, 3)
    assert (small[1, 1] == 200).all() and (small[0, 0] == 0).all()


def test_wav_roundtrip():
    samples = (np.sin(np.linspace(0, 20, 1000)) * 12000).astype(np.int16)
    out, rate, channels = decode_wav(encode_wav_pcm16(samples, 44100))
    assert rate == 44100 and channels == 1
    assert (out == samples).all()


def test_wav_rejects_non_pcm16():
    payload = bytearray(encode_wav_pcm16(np.zeros(10, np.int16), 8000))
    payload[20] = 3  # audio_format = IEEE float
    with pytest.raises(UnsupportedMediaError):
        decode_wav(bytes(payload))
    with pytest.raises(UnsupportedMediaError):
        decode_wav(b"RIFFxxxxWAVE")  # no chunks


def test_media_feature_decoder_dispatch():
    px = np.empty((2, 2, 3), np.uint8)
    px[:, :] = (9, 18, 27)
    f_img = media_feature_decoder(encode_bmp(px))
    assert f_img == [1.0, 2.0, 2.0, 9.0, 18.0, 27.0, 4.0, 0.0]
    wav = np.full(80, 300, np.int16)
    wav[1::2] = -300
    f_wav = media_feature_decoder(encode_wav_pcm16(wav, 8000))
    assert f_wav[:3] == [2.0, 8000.0, 1.0]
    assert f_wav[3] == 10.0 and f_wav[4] == 300.0 and f_wav[5] == 300.0
    with pytest.raises(UnsupportedMediaError):
        media_feature_decoder(b"\x89PNG....")


def test_png_roundtrip_rgb():
    import numpy as np

    from sm_etl_cloud_run_spark.functions.codecs import decode_png

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    got = decode_png(encode_png(px))
    assert got.shape == (13, 17, 3) and (got == px).all()


def test_png_filter_reconstruction_all_types():
    """Hand-filter known scanlines with Sub/Up/Average/Paeth (the test
    implements the FORWARD filters; the decoder must invert them) and
    check exact reconstruction."""
    import struct
    import zlib

    import numpy as np

    from sm_etl_cloud_run_spark.functions.codecs import _paeth, _PNG_SIG, decode_png

    rng = np.random.default_rng(11)
    h, w, ch = 5, 7, 3
    px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    flat = px.reshape(h, w * ch).astype(np.int32)
    raw = b""
    for r, f in enumerate([0, 1, 2, 3, 4]):
        cur = flat[r]
        prev = flat[r - 1] if r else np.zeros(w * ch, np.int32)
        line = np.zeros(w * ch, np.int32)
        for i in range(w * ch):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                line[i] = cur[i]
            elif f == 1:
                line[i] = (cur[i] - a) % 256
            elif f == 2:
                line[i] = (cur[i] - b) % 256
            elif f == 3:
                line[i] = (cur[i] - (a + b) // 2) % 256
            else:
                line[i] = (cur[i] - _paeth(a, b, c)) % 256
        raw += bytes([f]) + bytes(line.astype(np.uint8))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        _PNG_SIG + png_chunk(b"IHDR", ihdr)
        + png_chunk(b"IDAT", zlib.compress(raw))
        + png_chunk(b"IEND", b"")
    )
    got = decode_png(payload)
    assert (got == px).all()


def test_png_grayscale_and_rgba_variants():
    import struct
    import zlib

    import numpy as np

    from sm_etl_cloud_run_spark.functions.codecs import _PNG_SIG, decode_png

    def build(color_type, channels, arr):
        h, w = arr.shape[:2]
        raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            _PNG_SIG + png_chunk(b"IHDR", ihdr)
            + png_chunk(b"IDAT", zlib.compress(raw)) + png_chunk(b"IEND", b"")
        )

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    g = decode_png(build(0, 1, gray[..., None]))
    assert g.shape == (3, 4, 3) and (g[..., 0] == gray).all() and (g[..., 2] == gray).all()

    rgba = np.zeros((2, 2, 4), np.uint8)
    rgba[..., 0] = 200; rgba[..., 3] = 7   # alpha must be dropped
    c = decode_png(build(6, 4, rgba))
    assert c.shape == (2, 2, 3) and (c[..., 0] == 200).all() and (c[..., 2] == 0).all()


def test_png_feature_decoder_and_unsupported():
    import numpy as np
    import pytest

    from sm_etl_cloud_run_spark.functions.codecs import UnsupportedMediaError, media_feature_decoder

    px = np.zeros((4, 6, 3), np.uint8)
    px[..., 0] = 10; px[..., 1] = 20; px[..., 2] = 30
    feats = media_feature_decoder(encode_png(px))
    assert feats == [1.0, 6.0, 4.0, 10.0, 20.0, 30.0, 24.0, 0.0]

    with pytest.raises(UnsupportedMediaError, match="JPEG"):
        media_feature_decoder(b"\xff\xd8\xff\xe0 not decodable jpeg")


def test_bmp_batch_twins_are_byte_identical():
    """encode_bmp_batch / decode_bmp_batch must be BYTE-identical to
    the per-frame codecs — the scene-cut kernel's vectorization is
    legal only because of this pin (total_mad hash-pins pixels).
    Covers the unpadded (w=8), padded (w=5: 15-byte rows, 1-byte pad),
    and heterogeneous-fallback paths."""
    import numpy as np

    from sm_etl_cloud_run_spark.functions.codecs import (
        decode_bmp,
        decode_bmp_batch,
        encode_bmp,
        encode_bmp_batch,
    )

    rng = np.random.default_rng(7)
    for h, w in ((8, 8), (6, 5)):
        frames = rng.integers(0, 256, size=(9, h, w, 3), dtype=np.uint8)
        batch = encode_bmp_batch(frames)
        single = [encode_bmp(frames[i]) for i in range(9)]
        assert batch == single
        dec = decode_bmp_batch(batch)
        assert dec.dtype == np.uint8
        assert (dec == frames).all()
        for i, p in enumerate(batch):
            assert (decode_bmp(p) == frames[i]).all()

    # heterogeneous batch: same decoded shape but different byte length
    # (trailing junk decode_bmp tolerates) → per-payload fallback path,
    # identical result. Different SHAPES can't form one array — raise.
    pa_ = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    pb_ = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    a, b = encode_bmp(pa_), encode_bmp(pb_) + b"\x00"
    out = decode_bmp_batch([a, b])
    assert (out[0] == pa_).all() and (out[1] == pb_).all()
    import pytest as _pytest

    c = encode_bmp(rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8))
    with _pytest.raises(ValueError):
        decode_bmp_batch([a, c])

    assert encode_bmp_batch(np.zeros((0, 8, 8, 3), dtype=np.uint8)) == []
    assert decode_bmp_batch([]).shape == (0, 0, 0, 3)
