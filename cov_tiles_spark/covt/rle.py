"""ORC-v1-style integer RLE + byte RLE (kernels K4/K5).

Wire semantics exactly as the reference decodes them
(`/root/reference/parser/js/src/decoder/decodingUtils.ts:230-265` int RLE,
`:373-401` byte RLE):

- int RLE block: header byte ``h``.
  ``h <= 0x7f``  -> run of ``h+3`` values ``first + i*delta`` where ``delta``
  is one int8 byte and ``first`` a varint (zigzag varint when signed).
  ``h > 0x7f``   -> ``256-h`` literal varints (zigzag when signed).
- byte RLE block: ``h <= 0x7f`` -> ``h+3`` copies of the next byte;
  ``h > 0x7f`` -> ``256-h`` literal bytes.

The encoder here emits valid blocks (greedy: constant-int8-delta runs of
length >= 3, literals in <=128 chunks); any valid emission decodes
identically, so bit-equality with the reference *encoder* is not required —
golden-fixture conformance is on the decode side.
"""

from __future__ import annotations

import numpy as np

from cov_tiles_spark.covt.varint import (
    decode_varint,
    encode_varints_with_ends,
    walk_varints,
    zigzag_decode,
    zigzag_encode,
)

_MAX_RUN = 127 + 3  # header 0x7f
_MAX_LITERALS = 128  # header 0x80
# int-RLE streams of at most this many values take the scalar walk. The
# vectorized path's block walk and scatter cost ~35-90 µs per call, about
# three times the bare varint scan's, so its crossover sits higher than
# `varint.SMALL_STREAM` (measured: ~128 values of 2-byte literals and
# beyond 256 of 1-byte ones)
SMALL_STREAM = 256


def decode_int_rle(
    buf: np.ndarray, n: int, offset: int = 0, signed: bool = False
) -> tuple[np.ndarray, int]:
    """Decode ``n`` integers; returns (int64/uint64 array, new offset).

    Terminator positions are scanned once for the whole stream and all
    literal blocks decode in a single vectorized pass — the per-block
    ``decode_varints`` path paid ~35 µs of numpy setup per (≤128-value)
    block, dominating literal-heavy streams.
    """
    out = np.empty(n, dtype=np.int64 if signed else np.uint64)
    if not buf.flags.c_contiguous:
        buf = np.ascontiguousarray(buf)
    hdr = memoryview(buf)  # scalar reads ~3x faster than numpy indexing
    if n <= SMALL_STREAM:
        # small-stream fast path: a pure-Python walk beats the vectorized
        # machinery's fixed numpy setup (dictionary length/index streams
        # are mostly tiny — measured 173 RLE streams per omt gen-B tile,
        # median n < 40)
        vals: list[int] = []
        try:
            while len(vals) < n:
                h = hdr[offset]
                if h <= 0x7F:
                    d = hdr[offset + 1]
                    if d >= 128:
                        d -= 256
                    first, offset = decode_varint(hdr, offset + 2)
                    if signed:
                        first = (first >> 1) ^ -(first & 1)
                    if d == 0:  # constant run: skip the generator protocol
                        vals.extend([first] * (h + 3))
                    elif signed:
                        vals.extend(first + i * d for i in range(h + 3))
                    else:
                        # negative deltas can take an unsigned run below 0;
                        # the stream semantics are mod-2^64 (the vectorized
                        # path masks at r_first) — mask HERE too, or numpy's
                        # out-of-bound int conversion (deprecated, future
                        # hard error) is what silently did the wrap
                        vals.extend(
                            (first + i * d) & 0xFFFFFFFFFFFFFFFF
                            for i in range(h + 3)
                        )
                else:
                    lit, offset = walk_varints(hdr, 256 - h, offset + 1)
                    if signed:
                        lit = [(v >> 1) ^ -(v & 1) for v in lit]
                    vals += lit
        except IndexError:
            raise ValueError(f"buffer exhausted: wanted {n} values") from None
        out[:] = vals
        return out, offset
    # absolute positions of varint terminator bytes (headers/deltas may
    # coincide; block walking below skips past them with searchsorted);
    # computed lazily at the first literal block — pure-run streams
    # (topology offsets) never pay the window scan
    term: np.ndarray | None = None
    lit_starts: list[np.ndarray] = []
    lit_ends: list[np.ndarray] = []
    lit_out: list[int] = []
    r_out: list[int] = []
    r_len: list[int] = []
    r_delta: list[int] = []
    r_first: list[int] = []
    count = 0
    while count < n:
        header = hdr[offset]
        offset += 1
        if header <= 0x7F:
            d = hdr[offset]
            val, offset = decode_varint(hdr, offset + 1)
            r_out.append(count)
            r_len.append(header + 3)
            r_delta.append(d - 256 if d >= 128 else d)
            r_first.append(val & 0xFFFFFFFFFFFFFFFF)
            count += header + 3
        else:
            lit = 256 - header
            if term is None:
                left = n - count
                term = offset + np.flatnonzero(
                    buf[offset : offset + 12 * left + 16] < 0x80
                )
            ti = int(term.searchsorted(offset))
            ends = term[ti : ti + lit]
            starts = np.empty(lit, dtype=np.int64)
            starts[0] = offset
            starts[1:] = ends[:-1] + 1
            lit_starts.append(starts)
            lit_ends.append(ends)
            lit_out.append(count)
            offset = int(ends[-1]) + 1
            count += lit
    if r_out:  # all runs fill in one vectorized pass
        lens = np.array(r_len, dtype=np.int64)
        firsts = np.array(r_first, dtype=np.uint64)
        if signed:
            firsts = zigzag_decode(firsts)
        tot = int(lens.sum())
        within = np.arange(tot, dtype=np.int64) - np.repeat(
            np.cumsum(lens) - lens, lens
        )
        step = within * np.repeat(np.array(r_delta, dtype=np.int64), lens)
        vals = (
            np.repeat(firsts, lens) + step
            if signed
            else np.repeat(firsts, lens) + step.astype(np.uint64)
        )
        out[np.repeat(np.array(r_out, dtype=np.int64), lens) + within] = vals
    if lit_starts:
        starts = np.concatenate(lit_starts)
        ends = np.concatenate(lit_ends)
        vals = np.zeros(starts.shape[0], dtype=np.uint64)
        max_len = int((ends - starts).max()) + 1
        if max_len > 10:
            raise ValueError("varint longer than 10 bytes")
        for j in range(max_len):  # <= 10 iterations, vectorized
            pos = starts + j
            m = pos <= ends
            vals[m] |= (buf[pos[m]].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
                7 * j
            )
        if signed:
            vals = zigzag_decode(vals)
        cursor = 0
        for out_at, s in zip(lit_out, lit_starts):
            k = s.shape[0]
            out[out_at : out_at + k] = vals[cursor : cursor + k]
            cursor += k
    return out, offset


def _plan_literals(plan: list[tuple], lo: int, hi: int) -> None:
    for i in range(lo, hi, _MAX_LITERALS):
        plan.append(("lit", i, min(i + _MAX_LITERALS, hi)))


def _plan_run(plan: list[tuple], first_idx: int, delta: int, length: int) -> None:
    while length >= 3:
        run = min(length, _MAX_RUN)
        plan.append(("run", first_idx, run - 3, delta))
        first_idx += run
        length -= run
    if length:  # <3 leftover of a constant-delta stretch -> literals
        _plan_literals(plan, first_idx, first_idx + length)


def encode_int_rle(values: np.ndarray, signed: bool = False) -> bytes:
    """Encode integers as ORC-v1-style RLE blocks.

    Two phases: plan the block layout (python loop over *stretches*, not
    values), then encode every varint in the stream with ONE vectorized
    pass (`encode_varints_with_ends`) and slice per block — the previous
    per-block ``encode_varints`` calls paid ~10 µs of numpy setup per
    (often single-value) block and dominated encode profiles.
    """
    v = np.asarray(values).astype(np.int64, copy=False)
    n = v.shape[0]
    if n == 0:
        return b""
    plan: list[tuple] = []
    if n <= 4:  # tiny streams: runs save almost nothing; skip run detection
        _plan_literals(plan, 0, n)
    else:
        deltas = np.diff(v)
        runnable = (deltas >= -128) & (deltas <= 127)
        # stretch starts: where delta changes or becomes non-runnable
        change = np.empty(n - 1, dtype=bool)
        change[0] = True
        change[1:] = (deltas[1:] != deltas[:-1]) | ~runnable[1:] | ~runnable[:-1]
        starts = np.flatnonzero(change)  # indices into deltas
        ends = np.append(starts[1:] - 1, n - 2)  # inclusive end in delta space
        lit_start = 0  # first value index not yet emitted
        for s, e in zip(starts.tolist(), ends.tolist()):
            n_vals = e - s + 2  # deltas s..e cover values s..e+1
            if n_vals >= 3 and runnable[s]:
                run_first = max(s, lit_start)
                run_len = e + 2 - run_first  # values run_first..e+1
                if run_len >= 3:
                    if run_first > lit_start:
                        _plan_literals(plan, lit_start, run_first)
                    _plan_run(plan, run_first, int(deltas[s]), run_len)
                    lit_start = e + 2
        if lit_start < n:
            _plan_literals(plan, lit_start, n)

    # every varint in the stream, in block order, encoded in one pass
    # (a run's chunk-first values v[i] equal the stretch values there, so
    # all varint payloads are plain slices/picks of v)
    idx_arrs = [
        np.arange(b[1], b[2]) if b[0] == "lit" else np.array([b[1]])
        for b in plan
    ]
    allv = v[np.concatenate(idx_arrs)]
    u = zigzag_encode(allv) if signed else allv.astype(np.uint64)
    enc, vends = encode_varints_with_ends(u)

    parts: list = []
    mv = memoryview(enc)
    ci = 0  # varint cursor
    for b in plan:
        if b[0] == "run":
            parts.append(bytes([b[2], b[3] & 0xFF]))
            s = 0 if ci == 0 else int(vends[ci - 1])
            ci += 1
            parts.append(mv[s : int(vends[ci - 1])])
        else:
            k = b[2] - b[1]
            parts.append(bytes([256 - k]))
            s = 0 if ci == 0 else int(vends[ci - 1])
            ci += k
            parts.append(mv[s : int(vends[ci - 1])])
    return b"".join(parts)


def decode_byte_rle(
    buf: np.ndarray, n_bytes: int, offset: int = 0
) -> tuple[np.ndarray, int]:
    """Decode ``n_bytes`` bytes; returns (uint8 array, new offset).
    Block headers are read through a memoryview (scalar numpy indexing
    costs ~3x more per read). A block that passes ``n_bytes`` or the
    buffer raises ``ValueError``."""
    out = np.empty(n_bytes, dtype=np.uint8)
    hdr = memoryview(buf)
    end = len(hdr)
    count = 0
    try:
        while count < n_bytes:
            header = hdr[offset]
            offset += 1
            if header <= 0x7F:
                run = header + 3
                if count + run > n_bytes:
                    raise ValueError(_overrun(n_bytes))
                out[count : count + run] = hdr[offset]
                offset += 1
                count += run
            else:
                lit = 256 - header
                if count + lit > n_bytes or offset + lit > end:
                    raise ValueError(_overrun(n_bytes))
                out[count : count + lit] = buf[offset : offset + lit]
                offset += lit
                count += lit
    except IndexError:  # a header or run byte past the buffer
        raise ValueError(_overrun(n_bytes)) from None
    return out, offset


def _overrun(n_bytes: int) -> str:
    return f"byte-RLE block passes the end of {n_bytes} bytes or of the buffer"


def skip_byte_rle(buf, n_bytes: int, offset: int = 0) -> int:
    """Advance past an encoded byte-RLE stream of ``n_bytes`` logical
    bytes of a bytes-like ``buf`` without materializing it (header walk
    only — used by the selective gen-B decode to jump implicit present
    streams). Raises ``ValueError`` where :func:`decode_byte_rle` does."""
    end = len(buf)
    count = 0
    while count < n_bytes:
        if offset >= end:
            raise ValueError(_overrun(n_bytes))
        header = buf[offset]
        offset += 1
        if header <= 0x7F:
            offset += 1
            count += header + 3
        else:
            lit = 256 - header
            offset += lit
            count += lit
        if count > n_bytes or offset > end:
            raise ValueError(_overrun(n_bytes))
    return offset


def encode_byte_rle(values: np.ndarray) -> bytes:
    """Encode bytes as RLE blocks (runs of >=3 equal bytes, else literals).

    Stretch detection is vectorized and only *run* stretches get python
    iterations; literal bytes (the whole input, for noisy data like image
    pixels) are emitted as memoryview slices per 128-chunk — the previous
    per-byte literal buffering cost ~1 µs/byte on run-free inputs.
    """
    v = np.asarray(values).astype(np.uint8, copy=False)
    n = v.shape[0]
    if n == 0:
        return b""
    if n <= 2:  # tiny bitsets (<= 16 features): literal block, no scan
        return bytes([256 - n]) + v.tobytes()
    # boundaries of equal-value stretches
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = v[1:] != v[:-1]
    starts = np.flatnonzero(change)
    lens = np.diff(np.append(starts, n))
    run_sel = lens >= 3
    raw = v.tobytes()
    mv = memoryview(raw)
    parts: list = []

    def flush_span(lo: int, hi: int) -> None:
        for i in range(lo, hi, _MAX_LITERALS):
            c = min(_MAX_LITERALS, hi - i)
            parts.append(bytes([256 - c]))
            parts.append(mv[i : i + c])

    lit_lo = 0  # start of the pending literal span
    for s, ln in zip(starts[run_sel].tolist(), lens[run_sel].tolist()):
        rem = ln % _MAX_RUN
        if rem >= 3:
            rem = 0  # final short chunk is still a valid run
        consumed = ln - rem  # greedy 130-chunks; <3 leftover -> literals
        if s > lit_lo:
            flush_span(lit_lo, s)
        val = raw[s : s + 1]
        left = consumed
        while left > 0:
            run = min(left, _MAX_RUN)
            parts.append(bytes([run - 3]))
            parts.append(val)
            left -= run
        lit_lo = s + consumed
    if lit_lo < n:
        flush_span(lit_lo, n)
    return b"".join(parts)
