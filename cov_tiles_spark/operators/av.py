"""Multimodal audio / video columns: decode, feature-extract, resize,
frame-sample.

Like images (operators/images.py), audio and video travel as opaque
``binary`` columns with typed metadata per the BASELINE.json input_hint
pattern. The container has no media libraries (SURVEY.md §7.0), so the
wire formats are our own deterministic, dependency-free layouts — the
Spark-side plumbing (schemas, Arrow batch shape, vectorized kernels
inside ``mapInPandas``) is the part that matters at 100 TB and is fully
real:

- audio ``pcm16``: raw little-endian int16 mono samples. Real-world
  codecs (mp3/opus/flac) slot in behind the same ``decode_audio``
  signature; attempting an unknown format raises ``NotImplementedError``
  exactly where a library-backed decoder would plug in.
- video ``rawv``: concatenated raw RGB uint8 frames (n_frames * h * w *
  3 bytes); metadata columns carry (w, h, n_frames, fps). Same
  plug-point rule for real containers (mp4/webm).

Feature extraction is designed to be *integer-exact* so the driver's
cross-engine value-hash comparison cannot be perturbed by float
summation order: energy is the exact int64 sum of squared samples,
zero-crossings an exact count, video features exact per-frame hashes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from cov_tiles_spark.operators.images import decode_image, encode_image, phash64
from cov_tiles_spark.rows import map_rows

AUDIO_FORMATS = ("pcm16",)
VIDEO_FORMATS = ("rawv",)


def _schema(df: DataFrame, drop: tuple[str, ...], made: str) -> str:
    """DDL of ``df``'s columns except ``drop``, then the ``made`` ones."""
    kept = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema if f.name not in drop
    ]
    return ", ".join([*kept, made])


# ---------------------------------------------------------------- audio

def decode_audio(data: bytes, fmt: str) -> np.ndarray:
    """Decode audio bytes to an int16 sample array."""
    if fmt == "pcm16":
        return np.frombuffer(data, dtype="<i2")
    raise NotImplementedError(
        f"audio format {fmt!r}: plug a library-backed decoder in here"
    )


def encode_audio(samples: np.ndarray, fmt: str) -> bytes:
    if fmt == "pcm16":
        return np.asarray(samples, dtype="<i2").tobytes()
    raise NotImplementedError(
        f"audio format {fmt!r}: plug a library-backed encoder in here"
    )


def synth_audio(asset_id: int, n_samples: int) -> np.ndarray:
    """Deterministic 16 kHz int16 test signal: two sines + seeded noise,
    with a silent lead-in so zero-crossing counts exercise the `== 0`
    edge."""
    sr = 16_000
    rng = np.random.default_rng(1000 + asset_id)
    t = np.arange(n_samples, dtype=np.float64) / sr
    f1 = 110.0 * (1 + (asset_id % 7))
    f2 = 523.25
    sig = 0.55 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    sig += rng.normal(0, 0.02, n_samples)
    lead = min(n_samples, sr // 100)
    sig[:lead] = 0.0
    return np.clip(np.round(sig * 20000.0), -32768, 32767).astype(np.int16)


def audio_features(df: DataFrame) -> DataFrame:
    """Per-asset integer-exact features of the ``bytes`` payload in
    format ``fmt``: sample count, peak magnitude, energy (sum of squared
    samples), zero-crossing count.

    One ``mapInPandas`` pass; each payload is decoded once.
    """

    def kernel(data, fmt):
        x = decode_audio(bytes(data), fmt).astype(np.int64)
        # sign changes between consecutive nonzero samples
        nz = x[x != 0]
        zcr = int((np.signbit(nz[1:]) != np.signbit(nz[:-1])).sum()) if len(nz) > 1 else 0
        return [(len(x), np.abs(x).max() if len(x) else 0, (x * x).sum(), zcr)]

    schema = _schema(
        df, ("bytes",), "n_samples long, peak long, energy long, zero_crossings long"
    )
    made = ("n_samples", "peak", "energy", "zero_crossings")
    return map_rows(df, schema, ("bytes", "fmt"), made, kernel)


# ---------------------------------------------------------------- video

def decode_video(data: bytes, w: int, h: int, n_frames: int, fmt: str) -> np.ndarray:
    """Decode video bytes to an (n_frames, h, w, 3) uint8 array."""
    if fmt == "rawv":
        return np.frombuffer(data, dtype=np.uint8).reshape(n_frames, h, w, 3).copy()
    raise NotImplementedError(
        f"video format {fmt!r}: plug a library-backed decoder in here"
    )


def encode_video(frames: np.ndarray, fmt: str) -> bytes:
    if fmt == "rawv":
        return np.asarray(frames, dtype=np.uint8).tobytes()
    raise NotImplementedError(
        f"video format {fmt!r}: plug a library-backed encoder in here"
    )


def synth_video(asset_id: int, w: int, h: int, n_frames: int) -> np.ndarray:
    """Deterministic moving-gradient frames (pure function of the id)."""
    yy, xx = np.mgrid[0:h, 0:w]
    frames = np.empty((n_frames, h, w, 3), dtype=np.uint8)
    for f in range(n_frames):
        shift = (asset_id * 3 + f * 5) % 256
        r = (xx * 255 // max(w - 1, 1) + shift) % 256
        g = (yy * 255 // max(h - 1, 1) + 2 * shift) % 256
        b = ((xx + yy) * 255 // max(w + h - 2, 1) + 3 * shift) % 256
        frames[f] = np.stack([r, g, b], axis=-1).astype(np.uint8)
    return frames


def sample_frame_indices(n_frames: int, k: int) -> list[int]:
    """Uniform k-frame sampling rule: index_j = (j * n_frames) // k."""
    k = min(k, n_frames)
    return [(j * n_frames) // k for j in range(k)]


def frame_sample_features(df: DataFrame, k: int) -> DataFrame:
    """Frame-sample each ``bytes`` video and fingerprint the sampled
    frames.

    Emits ``frames_sampled`` and ``frame_phash_xor`` (xor of the sampled
    frames' 64-bit perceptual hashes — an exact order-independent video
    fingerprint). Decode + sampling happen once per payload inside one
    ``mapInPandas`` pass, before any shuffle.
    """

    def kernel(data, w, h, n_frames, fmt):
        frames = decode_video(bytes(data), int(w), int(h), int(n_frames), fmt)
        idx = sample_frame_indices(int(n_frames), k)
        acc = np.uint64(0)
        for i in idx:
            acc ^= np.uint64(np.int64(phash64(frames[i])).view(np.uint64))
        return [(len(idx), int(acc.view(np.int64)))]

    schema = _schema(df, ("bytes",), "frames_sampled int, frame_phash_xor long")
    return map_rows(
        df, schema, ("bytes", "w", "h", "n_frames", "fmt"),
        ("frames_sampled", "frame_phash_xor"), kernel,
    )


# ---------------------------------------------------------------- resize

def resize_image(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic area-mean resize (integer box average over the
    source cells covered by each output pixel; exact integer arithmetic
    via cumulative sums, so both engines agree bit-for-bit)."""
    h, w, _ = px.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    # 2-D prefix sums per channel (int64 exact)
    cs = np.zeros((h + 1, w + 1, 3), dtype=np.int64)
    cs[1:, 1:] = px.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
    y0, y1 = ys[:-1], ys[1:]
    x0, x1 = xs[:-1], xs[1:]
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    total = (
        cs[y1][:, x1] - cs[y0][:, x1] - cs[y1][:, x0] + cs[y0][:, x0]
    )
    return (total // area[..., None]).astype(np.uint8)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Resize every ``bytes`` image to (out_w, out_h), re-encoding in
    its own format — one ``mapInPandas`` pass (decode -> area-mean
    resize -> encode, each payload touched once)."""

    def kernel(data, w, h, fmt):
        px = decode_image(bytes(data), int(w), int(h), fmt)
        return [(out_w, out_h, encode_image(resize_image(px, out_w, out_h), fmt))]

    schema = _schema(df, ("bytes", "w", "h"), "w int, h int, bytes binary")
    return map_rows(
        df, schema, ("bytes", "w", "h", "fmt"), ("w", "h", "bytes"), kernel
    )
