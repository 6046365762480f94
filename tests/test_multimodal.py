"""Multimodal plumbing: schemas, Arrow batch shape, deterministic
features; codec stubs raise for unavailable decoders."""

import numpy as np
import pytest

from s2spark import multimodal as MM


def test_audio_pipeline(spark):
    feats = MM.audio_features(MM.synth_audio(spark, 60)).collect()
    assert len(feats) == 60
    for r in feats:
        assert r["n_windows"] >= 2
        assert 0 < r["energy_mean"] < 1
        assert r["duration_sec"] > 0
        assert r["caption"].startswith("audio caption")


def test_audio_codec_stub():
    with pytest.raises(NotImplementedError):
        MM._decode_audio(b"", "mp3", 100)


def test_video_frame_sampling(spark):
    vids = MM.synth_video(spark, 25)
    frames = MM.sample_frames(vids).collect()
    n_expected = sum((r["n_frames"] + 4) // 5
                     for r in vids.select("n_frames").collect())
    assert len(frames) == n_expected
    for r in frames:
        assert r["frame_idx"] % 5 == 0
        assert 0 <= r["mean_px"] <= 255
        assert abs(r["ts_sec"] - r["frame_idx"] / 10.0) < 1e-12


def test_video_features_deterministic(spark):
    a = sorted(map(tuple, MM.sample_frames(MM.synth_video(spark, 10))
                   .collect()))
    b = sorted(map(tuple, MM.sample_frames(MM.synth_video(spark, 10))
                   .collect()))
    assert a == b


def test_audio_spectral_features(spark):
    """the rFFT dominant frequency recovers each synthetic clip's
    generation frequency within one FFT bin; centroid is positive and
    bounded by Nyquist."""
    a = MM.synth_audio(spark, 24)
    rows = MM.audio_features(a).collect()
    for r in rows:
        idx = int(r["audio_id"][3:])
        n_samples = 800 + (idx % 5) * 400
        gen_hz = 110 + idx % 440
        bin_hz = 8000.0 / n_samples
        assert abs(r["dominant_hz"] - gen_hz) <= bin_hz + 1e-9
        assert 0.0 < r["spectral_centroid_hz"] < 4000.0
