"""Dependency-free media codecs: 24-bit BMP, 8-bit PNG, 16-bit PCM WAV.

Real decode for the multimodal layer (SURVEY §2 scale additions) built
from the public file formats alone — no PIL/librosa/ffmpeg, which this
container lacks. BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, BI_RGB,
bottom-up padded rows), PNG (IHDR/IDAT/IEND chunks, stdlib-zlib
inflate, full None/Sub/Up/Average/Paeth filter reconstruction), and
RIFF/WAVE (fmt + data chunks, PCM int16) cover two image codecs and
one audio codec end-to-end; formats whose compression is not in the
stdlib (JPEG/MP3/video) raise `UnsupportedMediaError` with a clear
message.

BMP and WAV have encoders so pipelines can synthesize valid payloads
(the PNG test encoder lives in tests/media_fixtures.py); decoders
return numpy arrays, and `media_feature_decoder` maps any
supported payload to a fixed 8-float feature vector for
`operators.multimodal.extract_features`.
"""

from __future__ import annotations

import struct

import numpy as np


class UnsupportedMediaError(ValueError):
    """Payload is not a format the dependency-free codecs support."""


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed BI_RGB)
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB array → 24-bit BMP bytes (bottom-up rows,
    4-byte row padding, BGR byte order — the on-disk convention)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_bmp expects an (h, w, 3) RGB array")
    h, w, _ = arr.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    bgr = arr[::-1, :, ::-1]  # bottom-up, RGB→BGR
    body = b"".join(bgr[r].tobytes() + b"\x00" * pad for r in range(h))
    pixel_offset = 14 + 40
    file_size = pixel_offset + len(body)
    file_header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_offset)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_header + info_header + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP bytes → (h, w, 3) uint8 RGB array."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise UnsupportedMediaError("not a BMP payload")
    (_, _, _, _, pixel_offset) = struct.unpack_from("<2sIHHI", payload, 0)
    (hdr_size, w, h, _planes, bpp, compression) = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40:
        raise UnsupportedMediaError(f"unsupported BMP header size {hdr_size}")
    if bpp != 24 or compression != 0:
        raise UnsupportedMediaError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    if len(payload) < pixel_offset + stride * h:
        raise UnsupportedMediaError("BMP pixel array truncated")
    raw = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=pixel_offset)
    rows = raw.reshape(h, stride)[:, :row_bytes].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR→RGB


def encode_bmp_batch(frames) -> list[bytes]:
    """Byte-identical batch twin of :func:`encode_bmp` for N same-shape
    frames: the 54-byte header is shape-determined so it is computed
    ONCE (through encode_bmp itself — the codec stays authoritative),
    and the per-frame pixel transform (bottom-up flip, RGB→BGR, row
    padding) runs as one vectorized numpy operation instead of N
    Python-loop encodes. tests/test_multimodal pins bytes == the
    per-frame encoder on padded and unpadded widths."""
    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim != 4 or arr.shape[3] != 3:
        raise ValueError("encode_bmp_batch expects an (n, h, w, 3) RGB array")
    n, h, w, _ = arr.shape
    if n == 0:
        return []
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    bgr = arr[:, ::-1, :, ::-1]
    if pad:
        padded = np.zeros((n, h, row_bytes + pad), dtype=np.uint8)
        padded[:, :, :row_bytes] = bgr.reshape(n, h, row_bytes)
        bodies = padded.reshape(n, -1)
    else:
        bodies = np.ascontiguousarray(bgr).reshape(n, -1)
    header = encode_bmp(arr[0])[: 14 + 40]
    return [header + bodies[i].tobytes() for i in range(n)]


def decode_bmp_batch(payloads) -> np.ndarray:
    """Byte-identical batch twin of :func:`decode_bmp` for same-shape
    payloads → (n, h, w, 3) uint8 RGB. The first payload is decoded
    through decode_bmp (format validation stays the codec's); when the
    rest share its byte length and header prefix — same encoder, same
    shape — the pixel transform runs as ONE frombuffer + vectorized
    unflip/unswizzle. A heterogeneous batch falls back to per-payload
    decode_bmp, so the result is decode_bmp's for every input either
    way."""
    payloads = list(payloads)
    if not payloads:
        return np.zeros((0, 0, 0, 3), dtype=np.uint8)
    first = decode_bmp(payloads[0])
    hdr = bytes(payloads[0][:54])
    length = len(payloads[0])
    if any(len(p) != length or bytes(p[:54]) != hdr for p in payloads[1:]):
        return np.stack([first] + [decode_bmp(p) for p in payloads[1:]])
    (_, _, _, _, pixel_offset) = struct.unpack_from("<2sIHHI", payloads[0], 0)
    (_hdr_size, w, h_signed, _planes, _bpp, _compression) = struct.unpack_from(
        "<IiiHHI", payloads[0], 14
    )
    bottom_up = h_signed > 0
    h = abs(h_signed)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(
        len(payloads), length
    )
    raw = buf[:, pixel_offset : pixel_offset + stride * h]
    rows = raw.reshape(-1, h, stride)[:, :, :row_bytes].reshape(-1, h, w, 3)
    if bottom_up:
        rows = rows[:, ::-1]
    return rows[:, :, :, ::-1].copy()  # BGR→RGB


def resize_bmp(payload: bytes, w: int, h: int) -> bytes:
    """Nearest-neighbor resize of a 24-bit BMP, re-encoded as BMP.

    Pure numpy index math, no codec libraries; the resize QA query
    (`plans/vector.multimodal_resize_qa`) runs it executor-side.
    """
    src = decode_bmp(payload)
    sh, sw, _ = src.shape
    rows = (np.arange(h) * sh // h).clip(0, sh - 1)
    cols = (np.arange(w) * sw // w).clip(0, sw - 1)
    return encode_bmp(src[rows][:, cols])


# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM int16)
# ---------------------------------------------------------------------------


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """Mono int16 sample array → RIFF/WAVE bytes with a 16-byte PCM fmt
    chunk."""
    data = np.asarray(samples, dtype=np.int16).reshape(-1).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(payload: bytes) -> tuple[np.ndarray, int, int]:
    """RIFF/WAVE PCM-16 bytes → (int16 samples, sample_rate, channels)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise UnsupportedMediaError("not a RIFF/WAVE payload")
    off = 12
    fmt = None
    data = None
    while off + 8 <= len(payload):
        cid, clen = struct.unpack_from("<4sI", payload, off)
        body = payload[off + 8 : off + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        off += 8 + clen + (clen % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise UnsupportedMediaError("WAV missing fmt or data chunk")
    audio_format, channels, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise UnsupportedMediaError(
            f"only PCM-16 WAV supported (format={audio_format}, bits={bits})"
        )
    return np.frombuffer(data, dtype=np.int16), sample_rate, channels


# ---------------------------------------------------------------------------
# PNG (8-bit grayscale / RGB / RGBA, non-interlaced) — stdlib zlib only
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8 RGB array.

    Supports the formats this engine's encoder and common tools emit:
    8-bit depth, color types 0 (grayscale, broadcast to RGB),
    2 (truecolor), 6 (truecolor+alpha, alpha dropped), non-interlaced,
    with full filter reconstruction (None/Sub/Up/Average/Paeth —
    the per-row filter is decoder-mandatory in the spec)."""
    import zlib

    if not payload.startswith(_PNG_SIG):
        raise UnsupportedMediaError("not a PNG payload")
    pos, w = len(_PNG_SIG), 0
    h = bit_depth = color_type = interlace = 0
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if channels is None or bit_depth != 8 or interlace != 0 or not w or not h:
        raise UnsupportedMediaError(
            f"unsupported PNG variant (color_type={color_type}, "
            f"bit_depth={bit_depth}, interlace={interlace})"
        )
    raw = zlib.decompress(idat)
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise UnsupportedMediaError("PNG scanline data is truncated")
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels
    for r in range(h):
        f = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, r * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[r - 1].astype(np.int32) if r else np.zeros(stride, np.int32)
        if f == 0:
            rec = line
        elif f == 2:   # Up — vectorized
            rec = (line + prev) & 0xFF
        else:          # Sub / Average / Paeth need the left neighbor
            rec = np.zeros(stride, np.int32)
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 1:
                    rec[i] = (line[i] + a) & 0xFF
                elif f == 3:
                    rec[i] = (line[i] + (a + b) // 2) & 0xFF
                elif f == 4:
                    rec[i] = (line[i] + _paeth(a, b, c)) & 0xFF
                else:
                    raise UnsupportedMediaError(f"bad PNG filter type {f}")
        out[r] = rec.astype(np.uint8)
    px = out.reshape(h, w, channels)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    return px[:, :, :3]


# ---------------------------------------------------------------------------
# Unified feature decode
# ---------------------------------------------------------------------------


def media_feature_decoder(payload: bytes) -> list[float]:
    """Sniff the payload magic and decode to a fixed 8-float vector.

    BMP/PNG → [1, width, height, mean_r, mean_g, mean_b, n_pixels, 0]
    WAV → [2, sample_rate, channels, duration_ms, rms, peak, n_samples, 0]
    Anything else raises `UnsupportedMediaError` (JPEG/MP3/video need
    codec libraries absent from this container).
    """
    if payload[:2] == b"BM":
        px = decode_bmp(payload)
        h, w, _ = px.shape
        means = px.reshape(-1, 3).mean(axis=0)
        return [1.0, float(w), float(h), float(means[0]), float(means[1]), float(means[2]), float(h * w), 0.0]
    if payload[:8] == _PNG_SIG:
        px = decode_png(payload)
        h, w, _ = px.shape
        means = px.reshape(-1, 3).mean(axis=0)
        return [1.0, float(w), float(h), float(means[0]), float(means[1]), float(means[2]), float(h * w), 0.0]
    if payload[:4] == b"RIFF":
        samples, rate, channels = decode_wav(payload)
        n = len(samples) // max(channels, 1)
        x = samples.astype(np.float64)
        rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
        peak = float(np.max(np.abs(x))) if len(x) else 0.0
        return [2.0, float(rate), float(channels), n * 1000.0 / rate, rms, peak, float(n), 0.0]
    raise UnsupportedMediaError(
        "unrecognized media payload (dependency-free codecs support 24-bit "
        "BMP, 8-bit PNG, and PCM-16 WAV; JPEG/MP3/video require "
        "PIL/librosa/ffmpeg)"
    )
