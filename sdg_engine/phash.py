"""Perceptual hash (SURVEY.md §2.8 X4) — from-scratch 8x8 DCT-II.

Standard pHash recipe: grayscale → resize 32x32 (area mean) → 2-D
DCT-II → keep the top-left 8x8 low-frequency block (skipping the DC
term for the median) → bit i = coeff_i > median → 64-bit int.

The fixture generator stores this exact value in the ``phash`` column
(FIXTURES.md §1); re-encode invariance is property-tested.  Hamming
distance between phashes is pure Spark SQL: ``bit_count(a ^ b)``.
"""

from __future__ import annotations

import numpy as np

from .codecs import luma

_N = 32  # DCT input size


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n, dtype=np.float64)
    m = np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))
    m[0, :] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / n)


_DCT = _dct_matrix(_N)


def resize_area(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Box/area resample to out_h×out_w via block means (integer-safe).

    2-D cumsum + inclusion-exclusion: each output pixel is the mean of
    its source block.  For integer-valued inputs whose block sizes are
    powers of two (the fixture's 32/64/128 → 16 thumbnails) the means
    are EXACT in float64 — the thumbnail golden relies on this."""
    h, w = gray.shape
    ys = (np.arange(out_h + 1, dtype=np.float64) * h / out_h).astype(np.int64)
    xs = (np.arange(out_w + 1, dtype=np.float64) * w / out_w).astype(np.int64)
    ys = np.clip(ys, 0, h)
    xs = np.clip(xs, 0, w)
    csum = np.zeros((h + 1, w + 1), dtype=np.float64)
    csum[1:, 1:] = np.cumsum(np.cumsum(gray.astype(np.float64), axis=0), axis=1)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    y1 = np.minimum(y1, h)
    x1 = np.minimum(x1, w)
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    block = (
        csum[np.ix_(y1, x1)]
        - csum[np.ix_(y0, x1)]
        - csum[np.ix_(y1, x0)]
        + csum[np.ix_(y0, x0)]
    )
    return block / area


def _resize_area(gray: np.ndarray, out: int = _N) -> np.ndarray:
    """Square form used by the pHash pipeline."""
    return resize_area(gray, out, out)


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash of an (h, w, 3) uint8 image."""
    small = _resize_area(luma(img), _N)
    dct = _DCT @ small @ _DCT.T
    block = dct[:8, :8].copy().reshape(-1)
    med = np.median(block[1:])  # skip DC
    bits = block > med
    val = 0
    for i in range(64):
        if bits[i]:
            val |= 1 << i
    # fold into signed int64 domain for Spark LongType
    if val >= 1 << 63:
        val -= 1 << 64
    return int(val)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")
