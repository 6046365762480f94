"""Multimodal payload plumbing: audio / video as opaque binary columns
with typed metadata (round brief: make the Spark-side plumbing —
schema, partitioning, UDF signature, batch shape — real; STUB the
codec work, since no media libraries exist in this sandbox).

Real parts: schemas, Arrow batching through iterator ``mapInPandas``,
deterministic fake feature extraction (so pipelines are testable end
to end), frame/window sampling arithmetic. Stubbed parts: actual
codec decode — ``NotImplementedError`` behind ``codec='real'``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

AUDIO_SCHEMA = ("audio_id string, bytes binary, sample_rate int, "
                "n_samples long, channels int, codec string, "
                "caption string")

VIDEO_SCHEMA = ("video_id string, bytes binary, w int, h int, fps double, "
                "n_frames long, codec string, caption string")

AUDIO_FEATURES_SCHEMA = ("audio_id string, caption string, duration_sec "
                         "double, n_windows int, energy_mean double, "
                         "energy_std double, dominant_hz double, "
                         "spectral_centroid_hz double")

VIDEO_FRAMES_SCHEMA = ("video_id string, frame_idx long, ts_sec double, "
                       "mean_px double")

AUDIO_SAMPLE_RATE = 8000     # Hz of the synthetic pcm16 clips
AUDIO_WINDOW_SAMPLES = 400   # samples per energy window
FRAME_EVERY_N = 5            # keep every Nth video frame


def _decode_audio(data: bytes, codec: str, n_samples: int) -> np.ndarray:
    """pcm16 little-endian decodes for real; everything else is a
    clearly-marked stub (no audio libs in this container)."""
    if codec == "pcm16":
        return np.frombuffer(data, dtype="<i2")[:n_samples] \
            .astype(np.float64) / 32768.0
    raise NotImplementedError(
        f"audio codec {codec!r} needs a decoder library; the Spark "
        "plumbing (schema/batching/UDF shape) is identical for real "
        "codecs")


def synth_audio(spark: SparkSession, n: int) -> DataFrame:
    """deterministic pcm16 clips generated on executors."""

    def _gen(batches):
        for pdf in batches:
            rows = []
            for idx in pdf["id"].tolist():
                n_samples = 800 + (idx % 5) * 400
                t = np.arange(n_samples)
                wave = (np.sin(2 * np.pi * (110 + idx % 440) * t
                               / AUDIO_SAMPLE_RATE) * 0.5 * 32767)
                data = wave.astype("<i2").tobytes()
                rows.append((f"aud{idx:09d}", data, AUDIO_SAMPLE_RATE,
                             n_samples, 1, "pcm16",
                             f"audio caption {idx}"))
            yield pd.DataFrame(rows, columns=[
                "audio_id", "bytes", "sample_rate", "n_samples",
                "channels", "codec", "caption"])

    return spark.range(n).mapInPandas(_gen, AUDIO_SCHEMA)


def audio_features(audio: DataFrame) -> DataFrame:
    """windowed energy + REAL spectral features (decode → frame →
    reduce → rFFT): dominant frequency (argmax magnitude bin) and
    spectral centroid — numpy DSP, no stub. Tests pin the dominant
    frequency of the synthetic sine clips to their generation
    frequency (within one FFT bin)."""

    def _feat(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                sig = _decode_audio(row.bytes, row.codec, row.n_samples)
                n_win = len(sig) // AUDIO_WINDOW_SAMPLES
                w = sig[:n_win * AUDIO_WINDOW_SAMPLES] \
                    .reshape(n_win, AUDIO_WINDOW_SAMPLES)
                energy = (w * w).mean(axis=1)
                spec = np.abs(np.fft.rfft(sig))
                freqs = np.fft.rfftfreq(len(sig), d=1.0 / row.sample_rate)
                spec[0] = 0.0  # ignore DC
                dom = float(freqs[int(np.argmax(spec))])
                denom = float(spec.sum())
                centroid = float((freqs * spec).sum() / denom) \
                    if denom > 0 else 0.0
                out.append((row.audio_id, row.caption,
                            row.n_samples / row.sample_rate, n_win,
                            float(energy.mean()), float(energy.std()),
                            dom, centroid))
            yield pd.DataFrame(out, columns=[
                "audio_id", "caption", "duration_sec", "n_windows",
                "energy_mean", "energy_std", "dominant_hz",
                "spectral_centroid_hz"])

    return audio.mapInPandas(_feat, AUDIO_FEATURES_SCHEMA)


def synth_video(spark: SparkSession, n: int) -> DataFrame:
    """deterministic fake 'video': raw concatenated grayscale frames
    (the container has no video codecs — codec='rawgray')."""

    def _gen(batches):
        for pdf in batches:
            rows = []
            for idx in pdf["id"].tolist():
                w, h = 16, 16
                n_frames = 10 + idx % 20
                frames = ((np.arange(n_frames)[:, None, None]
                           + np.arange(h)[None, :, None] * 3
                           + np.arange(w)[None, None, :] * 7
                           + idx) % 256).astype(np.uint8)
                rows.append((f"vid{idx:09d}", frames.tobytes(), w, h,
                             10.0, n_frames, "rawgray",
                             f"video caption {idx}"))
            yield pd.DataFrame(rows, columns=[
                "video_id", "bytes", "w", "h", "fps", "n_frames",
                "codec", "caption"])

    return spark.range(n).mapInPandas(_gen, VIDEO_SCHEMA)


def sample_frames(video: DataFrame) -> DataFrame:
    """frame sampling (decode → keep frames 0, N, 2N, … for N =
    ``FRAME_EVERY_N`` → per-frame stats). For codec='rawgray' the
    decode is a reshape; real codecs raise NotImplementedError with
    identical plumbing."""

    def _frames(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.codec != "rawgray":
                    raise NotImplementedError(
                        f"video codec {row.codec!r} needs a decoder")
                frames = np.frombuffer(row.bytes, dtype=np.uint8) \
                    .reshape(row.n_frames, row.h, row.w)
                for fi in range(0, row.n_frames, FRAME_EVERY_N):
                    out.append((row.video_id, fi, fi / row.fps,
                                float(frames[fi].mean())))
            yield pd.DataFrame(out, columns=[
                "video_id", "frame_idx", "ts_sec", "mean_px"])

    return video.mapInPandas(_frames, VIDEO_FRAMES_SCHEMA)
