"""M0 tests for image codecs + PSNR + phash (SURVEY.md §5.3/§5.4)."""

import zlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sdg_engine import codecs as X
from sdg_engine.fixtures import make_image_pixels
from sdg_engine.phash import hamming64, phash64


def _rand_img(seed, h=32, w=24):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@settings(max_examples=25)
@given(st.integers(0, 10_000))
def test_png_roundtrip(seed):
    img = _rand_img(seed)
    assert np.array_equal(X.decode_png(X.encode_png(img)), img)


def test_png_decodes_all_filters():
    """Hand-build a PNG using filters 1-4 and check the decoder."""
    img = _rand_img(7, h=6, w=5)
    h, w, _ = img.shape
    stride = w * 3
    flat = img.reshape(h, stride).astype(np.int16)
    rows = []
    for r, f in enumerate([0, 1, 2, 3, 4, 2]):
        line = flat[r].copy()
        prev = flat[r - 1] if r > 0 else np.zeros(stride, np.int16)
        enc = line.copy()
        if f == 1:
            for i in range(3, stride):
                enc[i] = (line[i] - line[i - 3]) & 0xFF
        elif f == 2:
            enc = (line - prev) & 0xFF
        elif f == 3:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = int(line[i - 3]) if i >= 3 else 0
                b = int(prev[i])
                c = int(prev[i - 3]) if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        rows.append(np.concatenate([[f], enc]).astype(np.uint8))
    raw = np.stack(rows).tobytes()
    import struct

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + X._chunk(b"IHDR", ihdr)
        + X._chunk(b"IDAT", zlib.compress(raw))
        + X._chunk(b"IEND", b"")
    )
    assert np.array_equal(X.decode_png(png), img)


@settings(max_examples=25)
@given(st.integers(0, 10_000))
def test_ppm_raw_roundtrip(seed):
    img = _rand_img(seed)
    assert np.array_equal(X.decode_ppm(X.encode_ppm(img)), img)
    assert np.array_equal(X.decode_raw(X.encode_raw(img), 24, 32), img)


@settings(max_examples=25)
@given(st.integers(0, 10_000))
def test_qnt_psnr_above_gate(seed):
    """Lossy path must satisfy the PSNR >= 40 dB invariant (BASELINE.json:15)."""
    img = _rand_img(seed)
    out = X.decode_qnt(X.encode_qnt(img), 24, 32)
    assert X.psnr(img, out) >= 40.0
    assert np.abs(img.astype(int) - out.astype(int)).max() <= 2


def test_psnr_identity_is_inf():
    img = _rand_img(1)
    assert X.psnr(img, img) == float("inf")


def test_dispatch_all_formats():
    img = make_image_pixels(3, 1.5, 2.5, 16, 16)
    for fmt in ["png", "ppm", "raw"]:
        data = X.encode_image(img, fmt)
        assert np.array_equal(X.decode_image(data, fmt, 16, 16), img)
    lossy = X.decode_image(X.encode_image(img, "qnt"), "qnt", 16, 16)
    assert X.psnr(img, lossy) >= 40.0


def test_phash_stable_and_discriminative():
    a = make_image_pixels(1, 0.5, 0.5, 64, 64)
    b = make_image_pixels(999, 9.5, 9.5, 64, 64)
    assert phash64(a) == phash64(a)
    # distinct fixture scenes measure hamming 14-36; near-dup gate is 12
    assert hamming64(phash64(a), phash64(b)) > 12


def test_phash_invariant_under_lossless_reencode():
    img = make_image_pixels(5, 2.0, 3.0, 64, 64)
    via_png = X.decode_png(X.encode_png(img))
    assert phash64(img) == phash64(via_png)


def test_phash_near_invariant_under_lossy():
    img = make_image_pixels(5, 2.0, 3.0, 64, 64)
    lossy = X.decode_qnt(X.encode_qnt(img), 64, 64)
    # bits whose DCT coeff sits near the median can flip under lossy
    # re-encode; 12 is the near-dup boundary (distinct scenes are >12)
    assert hamming64(phash64(img), phash64(lossy)) <= 12


def test_luma_helpers_match_bt601():
    """codecs.luma is bit-identical to the BT.601 spelling whose later
    channels are promoted by the multiply (the golden twins' form), and
    luma_milli is its exact integer counterpart."""
    img = _rand_img(7, h=40, w=56)
    ref = 0.299 * img[:, :, 0].astype(np.float64) + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    lum = X.luma(img)
    assert lum.dtype == np.float64
    assert (lum.view(np.int64) == ref.view(np.int64)).all()
    milli = X.luma_milli(img)
    assert milli.dtype == np.int64
    px = img.astype(np.int64)
    assert (milli == 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]).all()
    assert np.abs(milli / 1000.0 - lum).max() < 1e-9
