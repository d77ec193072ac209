"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns plus typed metadata; transforms
run as Arrow-batched ``mapInPandas`` passes.  The actual codec step is
STUBBED (this container ships no image/audio libraries): ``decode=`` accepts
a real decoder callable in production, and the default
``deterministic_fake_decode`` derives reproducible pseudo-pixels from the
payload bytes so the Spark-side plumbing — schema, batching, partitioning,
UDF signatures — is fully real and testable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = ("media_id string, kind string, payload binary, "
                "width int, height int, duration_ms int")


def deterministic_fake_decode(payload: bytes, shape=(8, 8, 3)) -> np.ndarray:
    """Reproducible stand-in decoder: pseudo-pixels seeded by payload bytes."""
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=shape, dtype=np.uint8)


def extract_image_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "media_id", decode=None,
                           n_features: int = 16) -> DataFrame:
    """(id, features array<float>): channel-histogram features per image.

    The decode step is the only stubbed piece; batching/shape are real."""
    decode = decode or deterministic_fake_decode

    def extract(batches):
        for pdf in batches:
            feats = []
            for payload in pdf[payload_col]:
                img = decode(bytes(payload))
                hist, _ = np.histogram(img, bins=n_features, range=(0, 256))
                total = hist.sum()
                feats.append((hist / total).astype(np.float64)
                             if total else np.zeros(n_features))
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    id_type = dict(df.dtypes)[id_col]
    return (df.select(id_col, payload_col)
            .mapInPandas(extract, schema=f"`{id_col}` {id_type}, features array<double>"))


def resize_images(df: DataFrame, target=(4, 4), payload_col: str = "payload",
                  id_col: str = "media_id", decode=None) -> DataFrame:
    """(id, pixels array<int>): nearest-neighbor resize after decode."""
    decode = decode or deterministic_fake_decode

    def resize(batches):
        for pdf in batches:
            out = []
            for payload in pdf[payload_col]:
                img = decode(bytes(payload))
                h, w = img.shape[:2]
                ys = (np.arange(target[0]) * h // target[0])
                xs = (np.arange(target[1]) * w // target[1])
                out.append(img[np.ix_(ys, xs)].ravel().astype(np.int32))
            yield pd.DataFrame({id_col: pdf[id_col], "pixels": out})

    id_type = dict(df.dtypes)[id_col]
    return (df.select(id_col, payload_col)
            .mapInPandas(resize, schema=f"`{id_col}` {id_type}, pixels array<int>"))


def deterministic_fake_pcm(payload: bytes, n_samples: int = 4096) -> np.ndarray:
    """Reproducible stand-in audio decoder: int16 PCM seeded by payload."""
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little")
    rng = np.random.default_rng(seed ^ 0xA0D10)
    return rng.integers(-2 ** 15, 2 ** 15, size=n_samples).astype(np.int16)


def extract_audio_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "media_id", decode=None,
                           frame: int = 512) -> DataFrame:
    """(id, rms array<double>, zcr array<double>): per-frame root-mean-square
    energy and zero-crossing rate over decoded PCM — the audio leg of the
    multimodal plumbing.  Decode is the stubbed piece (``decode=`` takes a
    real libav/soundfile callable in production); framing and the
    vectorized per-window reductions are real."""
    decode = decode or deterministic_fake_pcm

    def extract(batches):
        for pdf in batches:
            rms_out, zcr_out = [], []
            for payload in pdf[payload_col]:
                pcm = decode(bytes(payload)).astype(np.float64)
                n = (len(pcm) // frame) * frame
                if n == 0:
                    rms_out.append(np.zeros(0))
                    zcr_out.append(np.zeros(0))
                    continue
                mat = pcm[:n].reshape(-1, frame)
                rms_out.append(np.sqrt((mat ** 2).mean(axis=1)))
                zcr_out.append(
                    (np.diff(np.signbit(mat), axis=1) != 0).mean(axis=1))
            yield pd.DataFrame({id_col: pdf[id_col], "rms": rms_out,
                                "zcr": zcr_out})

    id_type = dict(df.dtypes)[id_col]
    return (df.select(id_col, payload_col)
            .mapInPandas(extract, schema=f"`{id_col}` {id_type}, "
                                         "rms array<double>, zcr array<double>"))


def sample_frames(df: DataFrame, every_ms: int = 1000, payload_col: str = "payload",
                  id_col: str = "media_id", duration_col: str = "duration_ms") -> DataFrame:
    """(id, frame_ts array<int>): frame-sampling timestamps from metadata
    (decode-free; actual frame extraction would plug in at the decode stub)."""
    ts = F.sequence(F.lit(0), F.greatest(F.col(duration_col) - 1, F.lit(0)),
                    F.lit(every_ms))
    return df.select(id_col, ts.alias("frame_ts"))


def deterministic_fake_video_decode(payload: bytes, n_frames: int = 16,
                                    shape=(8, 8, 3)) -> np.ndarray:
    """Reproducible stand-in video decoder: (n_frames, h, w, c) pseudo-frame
    stack seeded by the payload bytes."""
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little")
    rng = np.random.default_rng(seed ^ 0x71D30)
    return rng.integers(0, 256, size=(n_frames, *shape), dtype=np.uint8)


def extract_video_features(df: DataFrame, payload_col: str = "payload",
                           id_col: str = "media_id", decode=None,
                           every_k: int = 4, n_features: int = 16) -> DataFrame:
    """(id, frame_idx array<int>, frame_features array<array<double>>):
    decode the frame stack, keep every ``every_k``-th frame (always
    including frame 0), and emit a per-sampled-frame channel histogram —
    the video leg of the multimodal plumbing.  Decode is the stubbed
    piece (``decode=`` takes a real libav callable returning an
    (n_frames, h, w, c) stack in production); the frame sampling and the
    vectorized per-frame histogram (one ``np.apply_along_axis``-free
    bincount over the flattened sampled stack) are real."""
    decode = decode or deterministic_fake_video_decode

    def extract(batches):
        for pdf in batches:
            idx_out, feat_out = [], []
            for payload in pdf[payload_col]:
                stack = decode(bytes(payload))
                idx = np.arange(0, len(stack), every_k, dtype=np.int32)
                sampled = stack[idx].reshape(len(idx), -1)
                # one bincount per frame over pre-bucketed pixel values:
                # vectorized via offsetting each frame's bins
                bins = (sampled.astype(np.int64) * n_features) // 256
                offs = (np.arange(len(idx))[:, None] * n_features)
                hist = np.bincount(
                    (bins + offs).ravel(),
                    minlength=len(idx) * n_features
                ).reshape(len(idx), n_features)
                totals = hist.sum(axis=1, keepdims=True)
                feats = np.divide(hist, totals, where=totals > 0,
                                  out=np.zeros_like(hist, dtype=np.float64))
                idx_out.append(idx)
                feat_out.append([row for row in feats])
            yield pd.DataFrame({id_col: pdf[id_col], "frame_idx": idx_out,
                                "frame_features": feat_out})

    id_type = dict(df.dtypes)[id_col]
    return (df.select(id_col, payload_col)
            .mapInPandas(extract,
                         schema=f"`{id_col}` {id_type}, frame_idx array<int>, "
                                "frame_features array<array<double>>"))
