"""Image codecs from scratch (SURVEY.md §2.8 X1-X3) — no PIL available.

The images table carries ``bytes: binary`` + ``fmt: string`` (the
graft's raster-tile payload, BASELINE.json:15).  Four formats:

* ``png``  — real PNG: zlib-compressed IDAT, 8-bit RGB, filter 0
             rows on encode; decoder handles filters 0-4 (vectorized
             per filter where possible).  Lossless.
* ``ppm``  — binary P6.  Lossless.
* ``raw``  — bare h*w*3 bytes (shape carried by the table's w/h).
             Lossless.
* ``qnt``  — 64-level quantized raw: the deterministic LOSSY path
             that exercises the PSNR >= 40 dB invariant gate.
* ``jpg``  — from-scratch ITU-T T.81 baseline JPEG (jpeg.py).  Lossy.
* ``tif``  — from-scratch TIFF 6.0 baseline (tiff.py): strips/tiles,
             none/deflate, GeoTIFF grid tags.  Lossless.

All functions operate on uint8 ndarrays (h, w, 3) and are designed to
be called per-row *inside an Arrow batch loop* (the per-image work is
numpy-vectorized; only the row loop is Python, over an Arrow batch).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """8-bit RGB PNG, filter type 0 on every row (SURVEY.md §7 hard part 3)."""
    h, w, c = img.shape
    assert c == 3 and img.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    rows = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), img.reshape(h, w * 3)], axis=1
    )
    idat = zlib.compress(rows.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG row filters.  raw: (h, 1+stride) uint8 (filter byte + data)."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for r in range(h):
        f = int(raw[r, 0])
        line = raw[r, 1:].astype(np.int16)
        prev = out[r - 1].astype(np.int16) if r > 0 else np.zeros(stride, np.int16)
        if f == 0:
            out[r] = line.astype(np.uint8)
        elif f == 2:  # Up
            out[r] = ((line + prev) & 0xFF).astype(np.uint8)
        elif f == 1:  # Sub — sequential in pixel axis, vectorize per channel
            cur = line.copy()
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
            out[r] = cur.astype(np.uint8)
        elif f == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
            out[r] = cur.astype(np.uint8)
        elif f == 4:  # Paeth
            cur = line.copy()
            prev_row = prev
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev_row[i])
                cc = int(prev_row[i - bpp]) if i >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                cur[i] = (cur[i] + pred) & 0xFF
            out[r] = cur.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {f}")
    return out


def decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos = 8
    w = h = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bits, ctype = struct.unpack(">IIBB", payload[:10])
            if bits != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB PNG supported")
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    stride = w * 3
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    raw = raw.reshape(h, 1 + stride)
    return _unfilter(raw, h, stride, 3).reshape(h, w, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    assert data[:2] == b"P6"
    parts = data.split(b"\n", 3)
    w, h = (int(t) for t in parts[1].split())
    body = parts[3]
    return np.frombuffer(body[: h * w * 3], dtype=np.uint8).reshape(h, w, 3)


def encode_raw(img: np.ndarray) -> bytes:
    return img.tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


_QNT_LEVELS = 64
_QNT_STEP = 256 // _QNT_LEVELS  # 4: bin-center error uniform in [-2, 2)
# → RMSE = 4/sqrt(12) ≈ 1.155 → PSNR ≈ 46.9 dB, above the 40 dB gate


def encode_qnt(img: np.ndarray) -> bytes:
    """Lossy: quantize to 64 levels/channel (one quantized byte each)."""
    return (img.astype(np.uint16) // _QNT_STEP).astype(np.uint8).tobytes()


def decode_qnt(data: bytes, w: int, h: int) -> np.ndarray:
    q = np.frombuffer(data, dtype=np.uint8)[: h * w * 3]
    center = q.astype(np.uint16) * _QNT_STEP + _QNT_STEP // 2
    return np.minimum(center, 255).astype(np.uint8).reshape(h, w, 3)


def decode_image(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """X1: bytes, fmt -> ndarray(h, w, 3)."""
    if fmt == "png":
        return decode_png(data)
    if fmt == "ppm":
        return decode_ppm(data)
    if fmt == "raw":
        return decode_raw(data, w, h)
    if fmt == "qnt":
        return decode_qnt(data, w, h)
    if fmt == "jpg":
        from .jpeg import decode_jpeg  # from-scratch baseline JPEG (jpeg.py)

        return decode_jpeg(data)
    if fmt == "tif":
        from .tiff import decode_tiff  # from-scratch baseline TIFF (tiff.py)

        return decode_tiff(data)
    raise ValueError(f"unknown fmt {fmt!r}")


def encode_image(img: np.ndarray, fmt: str) -> bytes:
    """X2: ndarray -> bytes."""
    if fmt == "png":
        return encode_png(img)
    if fmt == "ppm":
        return encode_ppm(img)
    if fmt == "raw":
        return encode_raw(img)
    if fmt == "qnt":
        return encode_qnt(img)
    if fmt == "jpg":
        from .jpeg import encode_jpeg

        return encode_jpeg(img)  # quality 92: ≥40 dB on the fixture family
    if fmt == "tif":
        from .tiff import encode_tiff

        return encode_tiff(img)  # deflate strips; lossless
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """X3: peak signal-to-noise ratio in dB; inf for identical images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def luma(img: np.ndarray) -> np.ndarray:
    """BT.601 luma of an (h, w, 3) image as float64.  Every channel is
    cast before its multiply and the terms add left to right — golden
    twins spell the same op order, so the float64 bits must not move."""
    return (
        0.299 * img[:, :, 0].astype(np.float64)
        + 0.587 * img[:, :, 1].astype(np.float64)
        + 0.114 * img[:, :, 2].astype(np.float64)
    )


def luma_milli(img: np.ndarray) -> np.ndarray:
    """BT.601 luma × 1000 as exact int64 (integer weights, no rounding)."""
    return (
        299 * img[:, :, 0].astype(np.int64)
        + 587 * img[:, :, 1].astype(np.int64)
        + 114 * img[:, :, 2].astype(np.int64)
    )


# ---------------------------------------------------------------------------
# X1/X2 audio twin: RIFF/WAVE PCM16 codec, pure numpy (no audio libs) —
# built from the public RIFF spec the same way the PNG codec was, so the
# multimodal audio path decodes REAL bytes instead of a stub.
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """PCM16 little-endian WAV: samples (n, ch) int16 (or float in
    [-1, 1], scaled) → RIFF/WAVE bytes."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    if s.dtype != np.int16:
        s = np.clip(np.round(s * 32767.0), -32768, 32767).astype(np.int16)
    n, ch = s.shape
    data = s.astype("<i2").tobytes()  # interleaved by C order
    block_align = ch * 2
    fmt = (
        (1).to_bytes(2, "little")            # PCM
        + ch.to_bytes(2, "little")
        + int(sample_rate).to_bytes(4, "little")
        + (int(sample_rate) * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + (16).to_bytes(2, "little")         # bits/sample
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 → (samples (n, ch) int16, sample_rate).

    Chunk-walking parser (fmt/data may be preceded by other chunks)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    ch = sr = bits = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        payload = data[pos + 8:pos + 8 + size]
        if tag == b"fmt ":
            audio_format = int.from_bytes(payload[0:2], "little")
            if audio_format != 1:
                raise ValueError(f"unsupported WAV format code {audio_format}")
            ch = int.from_bytes(payload[2:4], "little")
            sr = int.from_bytes(payload[4:8], "little")
            bits = int.from_bytes(payload[14:16], "little")
        elif tag == b"data":
            pcm = payload
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if ch is None or pcm is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16:
        raise ValueError(f"only PCM16 supported, got {bits}-bit")
    arr = np.frombuffer(pcm, dtype="<i2")
    n = len(arr) // ch
    return arr[: n * ch].reshape(n, ch).astype(np.int16), int(sr)
