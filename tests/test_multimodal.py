"""Multimodal plumbing tests: schemas/batch shapes real, codec stubbed."""

import pytest
from pyspark.sql.utils import PythonException

from sdg_engine.ops import multimodal as MM


def test_audio_features_deterministic(spark):
    audio = MM.synth_audio_table(spark, 16)
    a = MM.audio_features(audio).orderBy("media_id").toPandas()
    b = MM.audio_features(audio).orderBy("media_id").toPandas()
    assert len(a) == 16
    assert (a["n_samples"] > 0).all()
    assert (a["rms"].values == b["rms"].values).all()


def test_audio_features_real_wav_content(spark):
    """The audio path decodes REAL PCM16 WAV bytes (from-scratch RIFF
    parser): per-clip features must equal a driver-side numpy oracle
    computed from the same bytes, bit-for-bit."""
    import numpy as np

    from sdg_engine.codecs import decode_wav

    audio = MM.synth_audio_table(spark, 16)
    got = {r.media_id: r for r in MM.audio_features(audio).collect()}
    for r in audio.collect():
        samples, _sr = decode_wav(bytes(r.bytes))
        mono = (samples.astype(np.float64) / 32768.0).mean(axis=1)
        want_rms = float(np.sqrt(np.mean(mono * mono)))
        g = got[r.media_id]
        assert g.n_samples == len(mono)
        assert g.rms == want_rms
        assert g.peak == float(np.abs(mono).max())


def test_audio_wav_roundtrip_exact():
    import numpy as np

    from sdg_engine.codecs import decode_wav, encode_wav

    rng = np.random.default_rng(99)
    for ch in (1, 2):
        s = (rng.standard_normal((1234, ch)) * 12000).astype(np.int16)
        d, sr = decode_wav(encode_wav(s, 22050))
        assert sr == 22050 and np.array_equal(d, s)


def test_audio_real_decode_raises_for_compressed_codecs(spark):
    audio = MM.synth_opaque_audio_table(spark, 2)
    with pytest.raises(PythonException, match="NotImplementedError"):
        MM.audio_features(audio).collect()


def test_video_frame_sampling_shape(spark):
    video = MM.synth_video_table(spark, 8)
    frames = MM.video_frame_sample(video, every_n=12).toPandas()
    meta = video.select("media_id", "n_frames").toPandas()
    import math

    want = int(sum(math.ceil(n / 12) for n in meta["n_frames"]))
    assert len(frames) == want
    assert set(frames.columns) == {"media_id", "frame_idx", "t_sec", "mean_luma"}
    assert (frames["frame_idx"] % 12 == 0).all()


def test_video_rawvid_real_decode_content(spark):
    """rawvid frames decode for real: sampled frame luma means equal a
    driver-side numpy oracle from the same bytes, bit-for-bit."""
    import numpy as np

    video = MM.synth_video_table(spark, 8)
    got = {(r.media_id, r.frame_idx): r.mean_luma
           for r in MM.video_frame_sample(video, every_n=12).collect()}
    for r in video.collect():
        stack = MM.decode_rawvid(bytes(r.bytes))
        assert stack.shape == (r.n_frames, r.h, r.w)
        for fi in range(0, len(stack), 12):
            assert got[(r.media_id, fi)] == float(stack[fi].mean())


def test_video_rawvid_roundtrip():
    import numpy as np

    frames = (np.arange(3 * 4 * 5) % 256).astype(np.uint8).reshape(3, 4, 5)
    assert np.array_equal(MM.decode_rawvid(MM.encode_rawvid(frames)), frames)


def test_video_compressed_codec_raises(spark):
    video = MM.synth_opaque_video_table(spark, 2)
    with pytest.raises(PythonException, match="NotImplementedError"):
        MM.video_frame_sample(video).collect()
