"""Vectorized protobuf-style LEB128 varints + zigzag (kernels K1/K2).

Wire semantics match the reference decoder
(`/root/reference/parser/js/src/decoder/decodingUtils.ts:118-166` varint,
`:225-228` zigzag) and encoder (`EncodingUtils.java:39-71`): little-endian
7-bit groups, continuation bit 0x80, max 10 bytes; zigzag
``(v<<1)^(v>>63)`` / ``(u>>1)^-(u&1)``.

Encoders are numpy-vectorized. Decoders dispatch on stream length:
numpy pays a fixed setup per call, so a stream of at most
``SMALL_STREAM`` values is decoded by :func:`walk_varints`, one
pure-Python walk over the bytes, and a longer one by a vectorized
terminator scan. Both paths return the same values and end offset, and
both reject a varint longer than 10 bytes and a truncated stream with
``ValueError``.
"""

from __future__ import annotations

import numpy as np

_SHIFTS = np.arange(0, 70, 7, dtype=np.uint64)  # 10 seven-bit groups
_MASK7 = np.uint64(0x7F)
# smallest value needing k+2 bytes, k = 0..8 (2^7 .. 2^63)
_LEN_BOUNDS = np.uint64(1) << np.arange(7, 64, 7, dtype=np.uint64)
# streams of at most this many values take the scalar walk. The walk
# costs per byte, the vectorized scan ~25-30 µs per call plus a little
# per value: the measured crossover is ~220 values of 1-byte varints but
# 70-90 values of 2- to 9-byte ones, so the bound sits below the latter
SMALL_STREAM = 64
_MID_SHIFTS = range(7, 63, 7)  # shifts of a varint's bytes 2..9


def varint_len(v: int) -> int:
    """Byte length of the varint of one non-negative Python int."""
    return (v.bit_length() + 6) // 7 or 1


def varint_len_vec(values: np.ndarray) -> np.ndarray:
    """Byte length (int64) of each value's varint, in one numpy call.
    Values are taken as uint64, so a negative int64 counts 10 bytes, as
    a protobuf ``int64`` field would encode it."""
    u = np.asarray(values).astype(np.uint64, copy=False)
    return np.searchsorted(_LEN_BOUNDS, u, side="right") + 1


def encode_varint(v: int) -> bytes:
    """Varint of one non-negative Python int: the scalar writer for
    headers, metadata and MVT fields, where a numpy call costs more than
    the value."""
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def encode_varints(values: np.ndarray) -> bytes:
    """Encode an array of unsigned 64-bit values as concatenated varints."""
    v = np.asarray(values).astype(np.uint64, copy=False)
    n = v.shape[0]
    if n == 0:
        return b""
    if n <= 16:  # tiny-stream fast path: vectorized setup dominates below this
        out = bytearray()
        for x in v.tolist():
            while True:
                b = x & 0x7F
                x >>= 7
                if x:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    break
        return bytes(out)
    groups = (v[:, None] >> _SHIFTS[None, :]) & _MASK7  # (n, 10)
    nonzero = groups != 0
    any_nz = nonzero.any(axis=1)
    # index of highest nonzero group + 1 == byte count; zero encodes as 1 byte
    nbytes = np.where(any_nz, 10 - np.argmax(nonzero[:, ::-1], axis=1), 1)
    idx = np.arange(10, dtype=np.int64)
    cont = idx[None, :] < (nbytes - 1)[:, None]
    out = (groups.astype(np.uint8)) | (cont.astype(np.uint8) << 7)
    keep = idx[None, :] < nbytes[:, None]
    return out[keep].tobytes()  # row-major ravel keeps byte order per value


def encode_varints_with_ends(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Like :func:`encode_varints` but also returns the cumulative end
    offset of each value's encoding (int64), so callers that interleave
    varint payloads with other bytes (e.g. RLE block headers) can encode
    a whole stream's varints in ONE vectorized pass and slice per block.
    """
    v = np.asarray(values).astype(np.uint64, copy=False)
    n = v.shape[0]
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    if n <= 16:  # tiny-stream fast path: vectorized setup dominates below this
        out = bytearray()
        ends = np.empty(n, dtype=np.int64)
        for i, x in enumerate(v.tolist()):
            while True:
                b = x & 0x7F
                x >>= 7
                if x:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    break
            ends[i] = len(out)
        return bytes(out), ends
    groups = (v[:, None] >> _SHIFTS[None, :]) & _MASK7  # (n, 10)
    nonzero = groups != 0
    any_nz = nonzero.any(axis=1)
    nbytes = np.where(any_nz, 10 - np.argmax(nonzero[:, ::-1], axis=1), 1)
    idx = np.arange(10, dtype=np.int64)
    cont = idx[None, :] < (nbytes - 1)[:, None]
    out = (groups.astype(np.uint8)) | (cont.astype(np.uint8) << 7)
    keep = idx[None, :] < nbytes[:, None]
    return out[keep].tobytes(), np.cumsum(nbytes)


def walk_varints(buf, n: int, offset: int = 0) -> tuple[list[int], int]:
    """Decode ``n`` varints from a bytes-like ``buf`` (``bytes``,
    ``bytearray`` or ``memoryview``) in pure Python; returns (values as
    Python ints, new offset).

    The 10th byte contributes only its low bit, as the vectorized path's
    uint64 shift does, so both paths agree on every input they accept.
    """
    out: list[int] = []
    append = out.append
    try:
        for _ in range(n):
            b = buf[offset]
            offset += 1
            if b < 0x80:
                append(b)
                continue
            v = b & 0x7F
            for shift in _MID_SHIFTS:
                b = buf[offset]
                offset += 1
                v |= (b & 0x7F) << shift
                if b < 0x80:
                    break
            else:
                b = buf[offset]
                offset += 1
                v |= (b & 1) << 63
                if b >= 0x80:
                    raise ValueError("varint longer than 10 bytes")
            append(v)
    except IndexError:
        raise ValueError(f"buffer exhausted: wanted {n} varints") from None
    return out, offset


def decode_varints(
    buf: np.ndarray, n: int, offset: int = 0
) -> tuple[np.ndarray, int]:
    """Decode ``n`` varints from ``buf`` (uint8 array) starting at ``offset``.

    Returns (values uint64 array, new offset). Scans only until the n-th
    terminator, so callers should pass a tight slice for long buffers.
    """
    if n <= SMALL_STREAM:
        vals, offset = walk_varints(memoryview(buf), n, offset)
        return np.array(vals, dtype=np.uint64), offset
    # incremental terminator scan: start near the expected byte extent and
    # grow — scanning the whole remaining buffer per call is O(blocks x
    # tile size) when RLE decoders call this per literal block
    total = buf.shape[0] - offset
    chunk = min(total, max(64, 3 * n + 16))
    while True:
        seg = buf[offset : offset + chunk]
        term = np.flatnonzero(seg < 0x80)
        if term.shape[0] >= n:
            break
        if chunk >= total:
            raise ValueError(f"buffer exhausted: wanted {n} varints")
        chunk = min(total, chunk * 4)
    ends = term[:n]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = np.zeros(n, dtype=np.uint64)
    max_len = int((ends - starts).max()) + 1
    if max_len > 10:
        raise ValueError("varint longer than 10 bytes")
    for j in range(max_len):  # <= 10 iterations, each fully vectorized
        pos = starts + j
        m = pos <= ends
        vals[m] |= (seg[pos[m]].astype(np.uint64) & _MASK7) << np.uint64(7 * j)
    return vals, offset + int(ends[-1]) + 1


def decode_varint(buf, offset: int = 0) -> tuple[int, int]:
    """Decode a single varint from a bytes-like ``buf``; returns (value,
    new offset). Bounded as :func:`walk_varints` is: the 10th byte gives
    only its low bit, and an 11th byte or a read past the end of ``buf``
    raises ValueError. The one-value walk without its loop and list, for
    the header fields and MVT tags read one at a time."""
    try:
        b = buf[offset]
        if b < 0x80:
            return b, offset + 1
        val = b & 0x7F
        shift = 7
        while True:
            offset += 1
            b = buf[offset]
            if b < 0x80:
                return val | b << shift, offset + 1
            val |= (b & 0x7F) << shift
            shift += 7
            if shift == 63:
                break
        offset += 1
        b = buf[offset]
    except IndexError:
        raise ValueError("buffer exhausted: truncated varint") from None
    if b >= 0x80:
        raise ValueError("varint longer than 10 bytes")
    return val | (b & 1) << 63, offset + 1


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    """Signed int64 -> unsigned zigzag uint64."""
    v = np.asarray(values).astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    """Unsigned zigzag uint64 -> signed int64."""
    u = np.asarray(values).astype(np.uint64, copy=False)
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(
        (u & np.uint64(1)).astype(np.int64)
    )


def encode_zigzag_varints(values: np.ndarray) -> bytes:
    """Signed values -> zigzag -> varints."""
    return encode_varints(zigzag_encode(values))


def decode_zigzag_varints(
    buf: np.ndarray, n: int, offset: int = 0
) -> tuple[np.ndarray, int]:
    if n <= SMALL_STREAM:
        vals, offset = walk_varints(memoryview(buf), n, offset)
        return np.array([(v >> 1) ^ -(v & 1) for v in vals], dtype=np.int64), offset
    vals, offset = decode_varints(buf, n, offset)
    return zigzag_decode(vals), offset
