"""Multimodal payload plumbing (task spec: treat image/audio/video as
opaque ``binary`` columns with typed metadata; decode/feature-extract/
resize/frame-sample as pandas UDFs over mapInPandas).

Images are fully real in this engine (ops/payload.py, codecs.py).
Audio and video decode for real from the from-scratch containers the
fixtures emit: ``wav``/``pcm16`` (codecs.decode_wav) and ``rawvid``
(decode_rawvid).  Compressed codecs (opus/flac/mp3, h264/vp9) need
codec libraries the engine does not bundle, so their decode raises
NotImplementedError at the exact point a real decoder
(soundfile/ffmpeg) would be invoked.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..codecs import decode_wav, encode_wav
from .payload import map_rows

AUDIO_SCHEMA = (
    "media_id string, bytes binary, codec string, sample_rate int, "
    "n_channels int, duration_ms int"
)
VIDEO_SCHEMA = (
    "media_id string, bytes binary, codec string, w int, h int, "
    "fps double, n_frames int"
)


def synth_audio_table(spark, n: int = 64) -> DataFrame:
    """Deterministic audio fixture with REAL WAV bytes: a seeded
    sine+noise waveform per clip, encoded by the from-scratch PCM16
    codec (codecs.encode_wav) — the decode path is exercised for real,
    like PNG on the image side."""
    rng = np.random.default_rng(1234)
    rows = []
    for i in range(n):
        sr = [16000, 22050, 44100][i % 3]
        n_ch = 1 + (i % 2)
        dur_ms = 40 + (i % 7) * 10  # short clips keep the fixture small
        t = np.arange(int(sr * dur_ms / 1000)) / sr
        freq = 220.0 * (1 + (i % 8))
        wave = 0.5 * np.sin(2 * np.pi * freq * t)
        wave = wave[:, None] + 0.05 * rng.standard_normal((len(t), n_ch))
        rows.append(
            (f"aud{i:08d}", encode_wav(wave, sr), "wav", sr, n_ch, dur_ms)
        )
    return spark.createDataFrame(rows, AUDIO_SCHEMA)


def synth_opaque_audio_table(spark, n: int = 16) -> DataFrame:
    """Opaque compressed-codec fixture (opus/flac/mp3 bytes are seeded
    noise): exercises the NotImplementedError decode path."""
    rng = np.random.default_rng(1234)
    rows = [
        (
            f"opq{i:08d}",
            rng.integers(0, 256, size=2000 + (i % 5) * 500, dtype=np.uint8).tobytes(),
            ["opus", "flac", "mp3"][i % 3],
            [16000, 22050, 44100][i % 3],
            1 + (i % 2),
            1000 + (i % 7) * 250,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, AUDIO_SCHEMA)


RAWVID_MAGIC = b"RVID"


def encode_rawvid(frames: np.ndarray) -> bytes:
    """Trivial REAL video container (the from-scratch stand-in built the
    way WAV/PNG were): magic + (n, h, w) header + uint8 luma frames."""
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w = frames.shape
    return (
        RAWVID_MAGIC
        + n.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + frames.tobytes()
    )


def decode_rawvid(data: bytes) -> np.ndarray:
    """→ (n_frames, h, w) uint8 luma stack; validates magic + size."""
    if data[:4] != RAWVID_MAGIC:
        raise ValueError("not a rawvid stream")
    n = int.from_bytes(data[4:8], "little")
    h = int.from_bytes(data[8:12], "little")
    w = int.from_bytes(data[12:16], "little")
    body = np.frombuffer(data, dtype=np.uint8, offset=16)
    if len(body) != n * h * w:
        raise ValueError("truncated rawvid payload")
    return body.reshape(n, h, w)


def synth_video_table(spark, n: int = 32) -> DataFrame:
    """Video fixture with REAL decodable bytes: per-clip deterministic
    luma frames (moving gradient + seeded noise) in the rawvid
    container, so frame sampling decodes actual pixels."""
    rng = np.random.default_rng(4321)
    rows = []
    for i in range(n):
        w, h = 48, 32
        n_frames = 24 + (i % 4) * 12
        t = np.arange(n_frames)[:, None, None]
        yy = np.arange(h)[None, :, None]
        xx = np.arange(w)[None, None, :]
        frames = ((xx * 3 + yy * 2 + t * 7 + i * 11) % 256).astype(np.uint8)
        frames = np.clip(
            frames.astype(np.int16)
            + rng.integers(-8, 9, size=frames.shape, dtype=np.int16),
            0, 255,
        ).astype(np.uint8)
        rows.append(
            (f"vid{i:08d}", encode_rawvid(frames), "rawvid", w, h,
             [24.0, 30.0][i % 2], n_frames)
        )
    return spark.createDataFrame(rows, VIDEO_SCHEMA)


def synth_opaque_video_table(spark, n: int = 8) -> DataFrame:
    """Opaque compressed-codec video (h264/vp9 bytes are seeded noise):
    exercises the NotImplementedError decode path."""
    rng = np.random.default_rng(4321)
    rows = [
        (
            f"ovd{i:08d}",
            rng.integers(0, 256, size=5000, dtype=np.uint8).tobytes(),
            ["h264", "vp9"][i % 2],
            128,
            96,
            [24.0, 30.0][i % 2],
            24 + (i % 4) * 12,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, VIDEO_SCHEMA)


def _no_decoder(codec: str) -> NotImplementedError:
    return NotImplementedError(
        f"real {codec} decode requires a codec library (soundfile/ffmpeg) "
        "that the engine does not bundle"
    )


def _decode_audio(data: bytes, codec: str) -> np.ndarray:
    """Decode point.  ``wav``/``pcm16`` decode FOR REAL via the
    from-scratch RIFF parser (codecs.decode_wav); compressed codecs
    (opus/flac/mp3) raise — a real build calls soundfile/ffmpeg
    there."""
    if codec not in ("wav", "pcm16"):
        raise _no_decoder(codec)
    samples, _sr = decode_wav(data)
    return samples.astype(np.float64) / 32768.0


def _mono(r) -> np.ndarray:
    """One audio row decoded and mixed down to mono."""
    return _decode_audio(bytes(r.bytes), r.codec).mean(axis=1)


def _video_stack(r) -> np.ndarray:
    """One video row as an (n_frames, h, w) uint8 luma stack: ``rawvid``
    decodes for real; other codecs raise NotImplementedError."""
    if r.codec != "rawvid":
        raise _no_decoder(r.codec)
    return decode_rawvid(bytes(r.bytes))


def audio_features(audio: DataFrame) -> DataFrame:
    """Decode → per-clip features (RMS, zero-crossing rate, peak).

    Arrow-batched mapInPandas over real numpy feature math."""

    def _feat(r):
        mono = _mono(r)
        rms = float(np.sqrt(np.mean(mono * mono)))
        zcr = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
        yield (r.media_id, rms, zcr, float(np.abs(mono).max()), len(mono))

    return map_rows(
        audio, _feat,
        "media_id string, rms double, zcr double, peak double, n_samples long",
    )


def video_frame_sample(video: DataFrame, every_n: int = 12) -> DataFrame:
    """Frame-sample: one row per sampled frame with its luma mean —
    explode of per-frame rows out of mapInPandas.

    ``rawvid`` clips decode FOR REAL (decode_rawvid); compressed codecs
    (h264/vp9) raise NotImplementedError."""

    def _frames(r):
        stack = _video_stack(r)
        for fi in range(0, len(stack), every_n):
            yield (r.media_id, fi, float(fi / r.fps), float(stack[fi].mean()))

    return map_rows(
        video, _frames,
        "media_id string, frame_idx int, t_sec double, mean_luma double",
    )


def audio_spectral_features(audio: DataFrame) -> DataFrame:
    """Spectral feature extraction (r04): decode → mono → real FFT →
    magnitude spectrum → centroid (Hz), peak bin frequency, total
    energy.  numpy's rfft is deterministic for a given input, and the
    golden twin regenerates the identical waveform from the fixture
    SPEC — so the oracle compares float-exactly, like RMS/ZCR."""

    def _spec(r):
        mono = _mono(r)
        mag = np.abs(np.fft.rfft(mono))
        freqs = np.fft.rfftfreq(len(mono), 1.0 / r.sample_rate)
        total = float(mag.sum())
        centroid = float((freqs * mag).sum() / total) if total > 0 else 0.0
        peak_bin = int(np.argmax(mag))  # first max (deterministic)
        yield (r.media_id, centroid, float(freqs[peak_bin]),
               float((mag * mag).sum()), len(mag))

    return map_rows(
        audio, _spec,
        "media_id string, centroid_hz double, peak_hz double, "
        "energy double, n_bins int",
    )


def video_scene_cuts(video: DataFrame) -> DataFrame:
    """Scene-cut detection (r04): per clip, frames whose mean-luma jump
    from the previous frame exceeds 3 gray levels — the
    keyframe-selection primitive of a video training pipeline.  Emits
    (n_frames, n_cuts, first_cut) per clip; ``first_cut`` is −1 when
    the clip has none."""
    thr = 3.0

    def _cuts(r):
        stack = _video_stack(r)
        means = stack.reshape(len(stack), -1).mean(axis=1)
        jumps = np.abs(np.diff(means))
        cut_idx = np.nonzero(jumps > thr)[0] + 1
        yield (r.media_id, len(stack), int(len(cut_idx)),
               int(cut_idx[0]) if len(cut_idx) else -1)

    return map_rows(
        video, _cuts,
        "media_id string, n_frames int, n_cuts int, first_cut int",
    )


def audio_stft_frames(audio: DataFrame) -> DataFrame:
    """STFT frame features (r05): decode → mono → FULL frames of
    ``frame`` = 256 samples at ``hop`` = 128 stride → per-frame rfft
    magnitude → (energy, spectral centroid in Hz) per frame — the
    spectrogram primitive (VAD / audio-quality filters operate on these
    frames).

    SPEC (the golden twin regenerates the identical waveform and runs
    the same framing): frame f covers samples [f*hop, f*hop + frame);
    partial tails are dropped; centroid 0.0 for an all-zero frame.
    Map-only mapInPandas like the other payload ops."""
    frame, hop = 256, 128

    def _stft(r):
        mono = _mono(r)
        freqs = np.fft.rfftfreq(frame, 1.0 / r.sample_rate)
        n_frames = max(0, (len(mono) - frame) // hop + 1)
        for f in range(n_frames):
            seg = mono[f * hop : f * hop + frame]
            mag = np.abs(np.fft.rfft(seg))
            total = float(mag.sum())
            cen = float((freqs * mag).sum() / total) if total > 0 else 0.0
            yield (r.media_id, f, float((mag * mag).sum()), cen)

    return map_rows(
        audio, _stft,
        "media_id string, frame_idx int, energy double, centroid_hz double",
    )


def audio_pitch_autocorr(audio: DataFrame) -> DataFrame:
    """PITCH (f0) estimate via INTEGER AUTOCORRELATION (r05 wave 11):
    decode the real PCM16 samples, sum channels as exact ints, and take
    r(k) = sum x_i * x_{i+k} over int64 for lags sr//2000 .. sr//100
    (the 100-2000 Hz search band); f0 = sr / argmax_lag.  Strict-max
    with smallest-lag tie keeps the argmax deterministic, and every
    product is exact — the result is partitioning- and fold-order-
    independent.  The golden twin regenerates the waveform from the
    fixture SPEC, re-quantizes with the independent PCM16 rule, and
    accumulates r(k) with arbitrary-precision Python ints."""

    def _pitch(r):
        if r.codec not in ("wav", "pcm16"):
            raise _no_decoder(r.codec)
        pcm, sr = decode_wav(bytes(r.bytes))
        x = pcm.astype(np.int64).sum(axis=1)
        lo, hi = max(1, sr // 2000), sr // 100
        best_lag, best_r, n_lags = -1, 0, 0
        for k in range(lo, min(hi, len(x) - 1) + 1):
            n_lags += 1
            rk = int(np.dot(x[:-k], x[k:]))
            if best_lag < 0 or rk > best_r:
                best_lag, best_r = k, rk
        yield (r.media_id, best_lag, float(sr) / float(best_lag), best_r,
               n_lags)

    return map_rows(
        audio, _pitch,
        "media_id string, lag int, f0_hz double, r_peak bigint, "
        "n_lags int",
    )


def video_motion_blocks(video: DataFrame) -> DataFrame:
    """BLOCK-MATCHING MOTION ESTIMATION (r05 wave 11): for every
    consecutive frame pair, every interior ``block``x``block`` block
    (``block`` = 8) of the current frame finds the shift (dy, dx) in
    [-search, search]^2 (``search`` = 4) minimizing the integer SAD
    against the previous frame — the motion primitive video curation
    ranks clips by (static vs dynamic).

    SPEC (shared with the golden twin): blocks tile the grid starting
    at (search, search) with stride ``block`` so every candidate shift
    stays in-bounds; shifts iterate row-major (-s,-s)..(s,s) and only a
    STRICTLY smaller SAD replaces the incumbent — the argmin tie-break
    is lexicographic (sad, dy, dx) and fully deterministic.  Per clip:
    pair/block counts, moving-block count, SAD and |mv| sums, and a
    position-weighted checksum of the (dy, dx) codes.  Engine path:
    vectorized numpy over the block stack per shift; the golden twin
    runs scalar per-block loops instead."""
    blk, srch = 8, 4

    def _motion(r):
        stack = _video_stack(r)
        n, h, w = stack.shape
        pos = [(by, bx)
               for by in range(srch, h - blk - srch + 1, blk)
               for bx in range(srch, w - blk - srch + 1, blk)]
        s64 = stack.astype(np.int64)
        n_pairs = n - 1
        n_blocks = n_moving = sum_sad = sum_abs_mv = chk = 0
        flat = 0
        for t in range(1, n):
            cur = np.stack([s64[t, by:by + blk, bx:bx + blk]
                            for by, bx in pos])
            win = np.stack([
                s64[t - 1, by - srch:by + blk + srch,
                    bx - srch:bx + blk + srch]
                for by, bx in pos
            ])
            best_sad = None
            for dy in range(-srch, srch + 1):
                for dx in range(-srch, srch + 1):
                    sad = np.abs(
                        cur - win[:, srch + dy:srch + dy + blk,
                                  srch + dx:srch + dx + blk]
                    ).sum(axis=(1, 2))
                    if best_sad is None:
                        best_sad = sad.copy()
                        best_dy = np.full(len(pos), dy, np.int64)
                        best_dx = np.full(len(pos), dx, np.int64)
                    else:
                        better = sad < best_sad
                        best_sad[better] = sad[better]
                        best_dy[better] = dy
                        best_dx[better] = dx
            n_blocks += len(pos)
            n_moving += int(((best_dy != 0) | (best_dx != 0)).sum())
            sum_sad += int(best_sad.sum())
            sum_abs_mv += int((np.abs(best_dy) + np.abs(best_dx)).sum())
            wgt = (np.arange(flat, flat + len(pos), dtype=np.int64) % 97) + 1
            code = (best_dy + srch) * (2 * srch + 1) + best_dx + srch
            chk += int((wgt * code).sum())
            flat += len(pos)
        yield (r.media_id, n_pairs, n_blocks, n_moving, sum_sad, sum_abs_mv,
               chk)

    return map_rows(
        video, _motion,
        "media_id string, n_pairs int, n_blocks bigint, n_moving bigint, "
        "sum_sad bigint, sum_abs_mv bigint, chk bigint",
    )


# ---------------------------------------------------------------------------
# Half-band decimation (r05 wave 30) — integer sample-rate reduction,
# the resample primitive of audio ingest.  SPEC shared with the golden
# twin (regenerated waveform + reimplemented PCM16, scalar FIR loop):
#   x    = channel-0 int16 PCM as int64
#   y[n] = (-x[2n-3] + 9*x[2n-1] + 16*x[2n] + 9*x[2n+1] - x[2n+3]) // 32
#          for every n with 2n-3 >= 0 and 2n+3 < len(x)  (// = floor)
#   chk  = sum of y[n] * ((n % 97) + 1)
# ---------------------------------------------------------------------------


def audio_decimate_stats(audio: DataFrame) -> DataFrame:
    """Per-clip decimate-by-2 stats: (n_in, n_out, sum_abs, max_abs,
    chk).  Engine mechanics: strided numpy slices per tap (the golden
    twin loops samples scalar)."""

    def _dec(r):
        pcm, _sr = decode_wav(bytes(r.bytes))
        x = pcm[:, 0].astype(np.int64)
        n = len(x)
        lo = 2  # smallest n with 2n-3 >= 0
        hi = (n - 4) // 2  # largest n with 2n+3 <= n-1
        if hi < lo:
            yield (r.media_id, n, 0, 0, 0, 0)
            return
        ctr = 2 * np.arange(lo, hi + 1, dtype=np.int64)
        y = (
            -x[ctr - 3] + 9 * x[ctr - 1] + 16 * x[ctr]
            + 9 * x[ctr + 1] - x[ctr + 3]
        )
        y = y // 32
        wgt = (np.arange(lo, hi + 1, dtype=np.int64) % 97) + 1
        yield (r.media_id, n, int(y.size), int(np.abs(y).sum()),
               int(np.abs(y).max()), int((y * wgt).sum()))

    return map_rows(
        audio, _dec,
        "media_id string, n_in bigint, n_out bigint, sum_abs bigint, "
        "max_abs bigint, chk bigint",
    )


# ---------------------------------------------------------------------------
# Fixed-point biquad IIR low-pass (r05 wave 42) — the feedback filter
# next to the decimator's feed-forward FIR.  SPEC shared by both twins,
# ALL INTEGER in Q14 fixed point (floor division by 16384 per sample —
# python/numpy // is floor for negatives, the same value the golden's
# scalar loop computes):
#   acc[n] = B0*x[n] + B1*x[n-1] + B2*x[n-2]
#          + A1*y[n-1] + A2*y[n-2]        (x, y int64; zero priming)
#   y[n]   = acc[n] // 16384
# Coefficients are a Butterworth-ish low-pass quantized to Q14; the
# feedback poles stay inside the unit circle after quantization (step
# response convergence is pinned in pytest).
# ---------------------------------------------------------------------------

BIQUAD_Q = 16384  # Q14
BIQUAD_B = (1106, 2211, 1106)
BIQUAD_A = (18727, -6763)  # +a1*y1 +a2*y2 form


def biquad_kernel(x: np.ndarray) -> list[int]:
    """Engine mechanics: the feed-forward half is VECTORIZED numpy
    (b0..b2 taps over shifted slices); only the feedback recursion is
    a scalar loop (the golden twin runs fully scalar).  Returns the
    filtered int64 samples."""
    b0, b1, b2 = BIQUAD_B
    a1, a2 = BIQUAD_A
    ff = b0 * x
    ff[1:] += b1 * x[:-1]
    ff[2:] += b2 * x[:-2]
    y1 = y2 = 0
    out = []
    for f in ff:
        y = (int(f) + a1 * y1 + a2 * y2) // BIQUAD_Q
        out.append(y)
        y2, y1 = y1, y
    return out


def audio_biquad_stats(audio: DataFrame) -> DataFrame:
    """Per-clip biquad low-pass stats: (n, sum_abs_y, max_abs_y, y_last,
    chk) over channel-0 PCM16."""

    def _bq(r):
        pcm, _sr = decode_wav(bytes(r.bytes))
        y = biquad_kernel(pcm[:, 0].astype(np.int64))
        wgt = [(k % 97) + 1 for k in range(len(y))]
        yield (
            r.media_id, len(y),
            sum(abs(v) for v in y),
            max((abs(v) for v in y), default=0),
            y[-1] if y else 0,
            sum(v * w for v, w in zip(y, wgt)),
        )

    return map_rows(
        audio, _bq,
        "media_id string, n bigint, sum_abs_y bigint, max_abs_y bigint,"
        " y_last bigint, chk bigint",
    )
