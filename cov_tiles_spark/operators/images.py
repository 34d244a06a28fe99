"""Multimodal image columns: decode / encode / perceptual hash / PSNR.

Images are opaque ``binary`` columns with typed metadata (w, h, fmt) per
BASELINE.json input_hint. The container has no image libraries (SURVEY.md
§7.0), so the *codecs* are our own deterministic byte formats — the
Spark-side plumbing (schema, batch shape, vectorized kernels inside
``mapInPandas``) is real and what matters at 100 TB:

- ``raw``  : bare interleaved RGB uint8 (lossless)
- ``rle``  : byte-RLE of the RGB stream, reusing the COVT K5 kernel
             (lossless)
- ``dct40``: 8x8 blockwise DCT-II quantization tuned for PSNR >= 40 dB
             (lossy; the invariant the driver checks)

``phash`` is a from-scratch 64-bit DCT perceptual hash (32x32 luma ->
8x8 low-frequency block -> median threshold), matching the role of the
reference pipeline's hash-based dedup surface.
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

import numpy as np

from cov_tiles_spark.covt.rle import decode_byte_rle, encode_byte_rle

_DCT8 = None
_DCT32 = None


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    m[0] = np.sqrt(1.0 / n)
    return m


def _dct8() -> np.ndarray:
    global _DCT8
    if _DCT8 is None:
        _DCT8 = _dct_matrix(8)
    return _DCT8


def _dct32() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        _DCT32 = _dct_matrix(32)
    return _DCT32


_DCT40_Q = 6.0  # quantization step; PSNR stays >= 40 dB (tested)


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 array into the given format's bytes."""
    h, w, _ = pixels.shape
    if fmt == "raw":
        return pixels.tobytes()
    if fmt == "rle":
        return encode_byte_rle(pixels.reshape(-1))
    if fmt == "dct40":
        ph = (h + 7) // 8 * 8
        pw = (w + 7) // 8 * 8
        padded = np.zeros((ph, pw, 3), dtype=np.float64)
        padded[:h, :w] = pixels
        m = _dct8()
        blocks = padded.reshape(ph // 8, 8, pw // 8, 8, 3).transpose(0, 2, 4, 1, 3)
        coef = m @ blocks @ m.T  # DCT-II per 8x8 block, all blocks at once
        q = np.round(coef / _DCT40_Q).astype(np.int16)
        return q.tobytes()
    raise ValueError(f"unknown image format {fmt!r}")


def decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode format bytes back into an (h, w, 3) uint8 array."""
    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).copy()
    if fmt == "rle":
        out, _ = decode_byte_rle(np.frombuffer(data, dtype=np.uint8), h * w * 3)
        return out.reshape(h, w, 3)
    if fmt == "dct40":
        ph = (h + 7) // 8 * 8
        pw = (w + 7) // 8 * 8
        q = np.frombuffer(data, dtype=np.int16).reshape(ph // 8, pw // 8, 3, 8, 8)
        m = _dct8()
        blocks = m.T @ (q.astype(np.float64) * _DCT40_Q) @ m
        padded = blocks.transpose(0, 3, 1, 4, 2).reshape(ph, pw, 3)
        return np.clip(np.round(padded), 0, 255).astype(np.uint8)[:h, :w]
    raise ValueError(f"unknown image format {fmt!r}")


_LUMA = np.array([0.299, 0.587, 0.114])


@_lru_cache(maxsize=32)
def _luma_sample_idx(h: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    return np.ix_(ys, xs)


def _to_luma32(pixels: np.ndarray) -> np.ndarray:
    """Downsample to 32x32 grayscale by block-mean (no external resize)."""
    h, w, _ = pixels.shape
    iy, ix = _luma_sample_idx(h, w)
    # sample first, then weight: 32x32x3 matmul instead of h*w*3
    return pixels[iy, ix] @ _LUMA


def phash64(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash (top-left 8x8 AC coefficients vs median)."""
    luma = _to_luma32(pixels)
    m = _dct32()
    coef = m @ luma @ m.T
    block = coef[:8, :8].copy().ravel()
    # median of the 63 AC coefficients = the 31st order statistic (odd
    # count, so np.median picks exactly this element — partition skips
    # its dispatch overhead, ~10% of the synthesis kernel)
    med = np.partition(block[1:], 31)[31]
    bits = block > med
    bits[0] = False
    word = np.uint64(0)
    # pack 64 bits little-endian
    packed = np.packbits(bits, bitorder="little")
    return int(np.frombuffer(packed.tobytes(), dtype="<u8")[0].view(np.int64))


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized Hamming distance between int64 hash arrays."""
    x = (np.asarray(a).astype(np.int64).view(np.uint64)
         ^ np.asarray(b).astype(np.int64).view(np.uint64))
    # popcount via unpacking to bytes
    bytes_view = x.view(np.uint8).reshape(-1, 8)
    return np.unpackbits(bytes_view, axis=1).sum(axis=1)


@_lru_cache(maxsize=32)
def _image_grid(w: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    """(xx row vector, deterministic RGB gradient base) for a (w, h) —
    only a handful of shapes exist, and rebuilding the mgrid + gradient
    per image was ~25% of the synthesis kernel's profile."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            (xx * 255 / max(w - 1, 1)),
            (yy * 255 / max(h - 1, 1)),
            ((xx + yy) * 255 / max(w + h - 2, 1)),
        ],
        axis=-1,
    )
    base.setflags(write=False)
    xx.setflags(write=False)
    return xx, base


def generate_image(image_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic RGB content for a given id (seeded)."""
    rng = np.random.default_rng(42 + image_id)
    xx, base = _image_grid(w, h)
    noise = rng.normal(0, 12, (h, w, 3))
    phase = rng.uniform(0, 2 * np.pi)
    wave = 40 * np.sin(2 * np.pi * xx / max(w, 1) * rng.integers(1, 4) + phase)
    return np.clip(base + noise + wave[..., None], 0, 255).astype(np.uint8)
