"""Codec kernel unit tests.

The literal byte vectors are ported from the reference's jest suite
(`/root/reference/parser/js/test/unit/decoder/decodingUtils.spec.ts`) per
FIXTURES.md §5; round-trip tests use seeded deterministic arrays.
"""

from __future__ import annotations

import numpy as np
import pytest

from cov_tiles_spark.covt.bitset import pack_bitset, unpack_bitset
from cov_tiles_spark.covt.rle import (
    decode_byte_rle,
    decode_int_rle,
    encode_byte_rle,
    encode_int_rle,
    skip_byte_rle,
)
from cov_tiles_spark.covt.sfc import (
    hilbert_d2xy,
    hilbert_decode,
    hilbert_encode,
    hilbert_xy2d,
    morton_decode,
    morton_encode,
)
from cov_tiles_spark.covt.varint import (
    decode_varints,
    decode_zigzag_varints,
    encode_varints,
    encode_zigzag_varints,
    varint_len,
    varint_len_vec,
    zigzag_decode,
    zigzag_encode,
)

RNG = np.random.default_rng(42)


class TestVarint:
    # vectors from decodingUtils.spec.ts:10-53
    def test_decode_1_byte(self):
        vals, off = decode_varints(np.array([10], dtype=np.uint8), 1)
        assert vals[0] == 10 and off == 1

    def test_decode_4_bytes(self):
        buf = np.array([0x80, 0x80, 0x80, 4], dtype=np.uint8)
        vals, off = decode_varints(buf, 1)
        assert vals[0] == 8388608 and off == 4

    def test_decode_4_bytes_with_offset(self):
        buf = np.array([0x80, 0x80, 0x80, 0x80, 0x80, 4], dtype=np.uint8)
        vals, off = decode_varints(buf, 1, offset=2)
        assert vals[0] == 8388608 and off == 6

    def test_decode_7_bytes_with_offset(self):
        buf = np.array([0x80] * 8 + [4], dtype=np.uint8)
        vals, off = decode_varints(buf, 1, offset=2)
        assert vals[0] == 17592186044416 and off == 9

    def test_zigzag_negative(self):
        # decodingUtils.spec.ts:56-67 -> [155, 4] = -270
        buf = np.array([155, 4], dtype=np.uint8)
        vals, off = decode_zigzag_varints(buf, 1)
        assert vals[0] == -270 and off == 2

    def test_roundtrip_uint64(self):
        vals = np.concatenate(
            [
                np.array([0, 1, 127, 128, 2**35, 2**53 - 1, 2**63], dtype=np.uint64),
                RNG.integers(0, 2**63, 500).astype(np.uint64),
            ]
        )
        buf = np.frombuffer(encode_varints(vals), dtype=np.uint8)
        out, off = decode_varints(buf, len(vals))
        np.testing.assert_array_equal(out, vals)
        assert off == len(buf)

    def test_roundtrip_zigzag(self):
        vals = np.concatenate(
            [
                np.array([0, -1, 1, -2**31, 2**31, -(2**62)], dtype=np.int64),
                RNG.integers(-(2**40), 2**40, 500),
            ]
        )
        buf = np.frombuffer(encode_zigzag_varints(vals), dtype=np.uint8)
        out, _ = decode_zigzag_varints(buf, len(vals))
        np.testing.assert_array_equal(out, vals)

    def test_varint_len_matches_encoder(self):
        """Scalar and vector varint lengths equal the writer's byte count
        at every 7-bit group boundary, up to 2^64-1."""
        vals = [0] + [b for k in range(1, 10) for b in (2 ** (7 * k) - 1, 2 ** (7 * k))]
        vals.append(2**64 - 1)
        want = [len(encode_varints(np.array([v], dtype=np.uint64))) for v in vals]
        assert [varint_len(v) for v in vals] == want
        got = varint_len_vec(np.array(vals, dtype=np.uint64))
        assert got.tolist() == want

    def test_zigzag_pure(self):
        v = np.array([0, -1, 1, -2, 2, -(2**62)], dtype=np.int64)
        np.testing.assert_array_equal(zigzag_decode(zigzag_encode(v)), v)
        np.testing.assert_array_equal(
            zigzag_encode(np.array([-1, 1], dtype=np.int64)),
            np.array([1, 2], dtype=np.uint64),
        )


class TestIntRle:
    def test_runs(self):
        # decodingUtils.spec.ts:70-78: [2,1,1,2,1,1] -> [1..5, 1..5]
        buf = np.array([2, 1, 1, 2, 1, 1], dtype=np.uint8)
        vals, off = decode_int_rle(buf, 10, signed=False)
        np.testing.assert_array_equal(vals, [1, 2, 3, 4, 5, 1, 2, 3, 4, 5])
        assert off == 6

    def test_literals_and_runs_signed(self):
        # decodingUtils.spec.ts:80-103 (signed variant, decodeRleTest)
        run1 = [0x61, 0x00, 0x0E]
        lits = [0xFB] + [(i >> 31) ^ (i << 1) for i in [0x02, 0x03, 0x06, 0x07, 0xB]]
        run2 = [0x2F] + [((i >> 31) & 1) ^ ((i << 1) & 0xFF) for i in [-1, 0x32]]
        buf = np.array(run1 + lits + run2, dtype=np.uint8)
        expected = [7] * 100 + [2, 3, 6, 7, 11] + list(range(50, 0, -1))
        vals, off = decode_int_rle(buf, len(expected), signed=True)
        np.testing.assert_array_equal(vals, expected)
        assert off == 12

    @pytest.mark.parametrize("signed", [False, True])
    def test_roundtrip(self, signed):
        cases = [
            np.arange(1000, dtype=np.int64),  # pure arithmetic run
            np.full(500, 7, dtype=np.int64),  # constant
            RNG.integers(0, 10**6, 777),  # random literals
            np.repeat(RNG.integers(0, 100, 50), RNG.integers(1, 40, 50)),
            np.array([5], dtype=np.int64),
            np.array([], dtype=np.int64),
        ]
        if signed:
            cases.append(RNG.integers(-(10**6), 10**6, 777))
            cases.append(np.arange(500, 0, -1, dtype=np.int64) - 250)
        for vals in cases:
            vals = vals.astype(np.int64)
            buf = np.frombuffer(encode_int_rle(vals, signed=signed), dtype=np.uint8)
            out, off = decode_int_rle(buf, len(vals), signed=signed)
            np.testing.assert_array_equal(out.astype(np.int64), vals)
            assert off == len(buf)


class TestByteRle:
    def test_roundtrip(self):
        cases = [
            np.full(1000, 3, dtype=np.uint8),
            RNG.integers(0, 256, 500).astype(np.uint8),
            np.repeat(RNG.integers(0, 4, 60), RNG.integers(1, 50, 60)).astype(np.uint8),
            np.array([1, 1], dtype=np.uint8),
            np.array([], dtype=np.uint8),
        ]
        for vals in cases:
            buf = np.frombuffer(encode_byte_rle(vals), dtype=np.uint8)
            out, off = decode_byte_rle(buf, len(vals))
            np.testing.assert_array_equal(out, vals)
            assert off == len(buf)

    @pytest.mark.parametrize(
        "enc,n",
        [
            ([5, 7], 2),  # a run of 8 where 2 bytes are wanted
            ([0xFE, 1], 2),  # a 2-byte literal with 1 byte left
            ([0], 3),  # a run whose value byte is missing
            ([], 1),  # no header at all
        ],
        ids=["run_past_end", "literal_past_buffer", "run_byte_missing", "empty"],
    )
    def test_decode_and_skip_reject_block_past_end(self, enc, n):
        with pytest.raises(ValueError):
            decode_byte_rle(np.array(enc, dtype=np.uint8), n)
        with pytest.raises(ValueError):
            skip_byte_rle(bytes(enc), n)

    def test_skip_rejects_literal_past_wanted_bytes(self):
        with pytest.raises(ValueError):
            skip_byte_rle(bytes([0xFE, 1, 2]), 1)
        with pytest.raises(ValueError):
            decode_byte_rle(np.array([0xFE, 1, 2], dtype=np.uint8), 1)


class TestBitset:
    def test_reference_vector(self):
        # decodingUtils.spec.ts:106-113: bytes [0,2] -> bit 9 set, bit 8 unset
        packed = np.array([0, 2], dtype=np.uint8)
        bits = unpack_bitset(packed, 16)
        assert bits[9] and not bits[8]

    def test_roundtrip(self):
        bits = RNG.random(123) > 0.5
        packed = pack_bitset(bits)
        np.testing.assert_array_equal(unpack_bitset(packed, 123), bits)


class TestSfc:
    def test_morton_roundtrip(self):
        extent = 4096
        x = RNG.integers(-2048, 2048, 1000)
        y = RNG.integers(-2048, 2048, 1000)
        code = morton_encode(x, y, extent)
        dx, dy = morton_decode(code, extent)
        np.testing.assert_array_equal(dx, x)
        np.testing.assert_array_equal(dy, y)

    def test_morton_known(self):
        # interleave(3, 5) = 0b100111 = 39 (x even bits, y odd bits)
        code = morton_encode(np.array([3]), np.array([5]), 0)
        assert code[0] == 39

    def test_hilbert_roundtrip(self):
        for bits in (13, 14):
            n = 1 << bits
            x = RNG.integers(0, n, 1000).astype(np.uint64)
            y = RNG.integers(0, n, 1000).astype(np.uint64)
            d = hilbert_xy2d(bits, x, y)
            rx, ry = hilbert_d2xy(bits, d)
            np.testing.assert_array_equal(rx, x)
            np.testing.assert_array_equal(ry, y)

    def test_hilbert_order2_exhaustive(self):
        # canonical order-2 Hilbert curve: visit order of the 4x4 grid
        expected = {
            (0, 0): 0, (1, 0): 1, (1, 1): 2, (0, 1): 3,
            (0, 2): 4, (0, 3): 5, (1, 3): 6, (1, 2): 7,
            (2, 2): 8, (2, 3): 9, (3, 3): 10, (3, 2): 11,
            (3, 1): 12, (2, 1): 13, (2, 0): 14, (3, 0): 15,
        }
        xs = np.array([k[0] for k in expected], dtype=np.uint64)
        ys = np.array([k[1] for k in expected], dtype=np.uint64)
        ds = hilbert_xy2d(2, xs, ys)
        np.testing.assert_array_equal(ds, list(expected.values()))

    def test_hilbert_locality(self):
        # consecutive d values must be grid neighbors (property of the curve)
        bits = 6
        d = np.arange(4**bits, dtype=np.uint64)
        x, y = hilbert_d2xy(bits, d)
        step = np.abs(np.diff(x.astype(np.int64))) + np.abs(np.diff(y.astype(np.int64)))
        assert (step == 1).all()

    def test_extent_shift_roundtrip(self):
        x = np.array([-2048, 0, 2047], dtype=np.int64)
        y = np.array([2047, -1, 0], dtype=np.int64)
        d = hilbert_encode(x, y, 4096, 13)
        rx, ry = hilbert_decode(d, 4096, 13)
        np.testing.assert_array_equal(rx, x)
        np.testing.assert_array_equal(ry, y)


class TestEvalCodecs:
    """pfor and int-RLE round-trips over the integer shapes of the
    reference's codec sweep (IntegerCompressionEvaluation.java:68-120)."""

    def _cases(self):
        rng = np.random.default_rng(5)
        return {
            "random": rng.integers(0, 1000, 777),
            "sorted": np.sort(rng.integers(0, 10**6, 1000)),
            "runs": np.repeat(rng.integers(0, 50, 30), rng.integers(1, 80, 30)),
            "signed": rng.integers(-500, 500, 513),
            "arith": np.arange(100) * 7 + 3,
            "wide": np.array([2**40 + i * 3 for i in range(300)]),
            "single": np.array([42]),
        }

    def test_pfor_roundtrip_wide_values(self):
        from cov_tiles_spark.covt.pfor import decode_pfor, encode_pfor

        for name, v in self._cases().items():
            v = v.astype(np.int64)
            for zig, dlt in ((False, False), (True, False), (True, True)):
                if not zig and (v < 0).any():
                    continue
                enc = encode_pfor(v, zigzag=zig, delta=dlt)
                dec, off = decode_pfor(
                    np.frombuffer(enc, np.uint8), len(v), zigzag=zig, delta=dlt
                )
                assert off == len(enc), (name, zig, dlt)
                np.testing.assert_array_equal(dec, v, err_msg=name)

    def test_pfor_over_56bit_lanes_and_offset(self):
        """The vectorized byte-gather decode windows <=56-bit lanes in a
        uint64; wider blocks and wider exception lanes take the per-block
        fallback. Exercise both, plus decode at a nonzero offset."""
        from cov_tiles_spark.covt.pfor import decode_pfor, encode_pfor

        rng = np.random.default_rng(11)
        cases = {
            # every lane >56 bits: whole-stream fallback
            "wide_blocks": (rng.integers(0, 2**62, 300, dtype=np.int64)),
            # mostly tiny values with a few ~2^60 outliers: exception
            # lanes wider than 56 bits while low lanes stay vectorized
            "wide_exceptions": np.where(
                rng.random(512) < 0.02,
                rng.integers(2**59, 2**62, 512, dtype=np.int64),
                rng.integers(0, 16, 512, dtype=np.int64),
            ),
            # dense exceptions at moderate width (batched exception path)
            "dense_exceptions": np.where(
                rng.random(640) < 0.3,
                rng.integers(2**20, 2**30, 640, dtype=np.int64),
                rng.integers(0, 8, 640, dtype=np.int64),
            ),
        }
        for name, v in cases.items():
            enc = encode_pfor(v)
            prefix = b"\xaa\xbb\xcc"
            buf = np.frombuffer(prefix + enc, np.uint8)
            dec, off = decode_pfor(buf, len(v), offset=len(prefix))
            assert off == len(prefix) + len(enc), name
            np.testing.assert_array_equal(dec, v, err_msg=name)

    def test_int_rle_offset_and_noncontiguous(self):
        """decode_int_rle must handle a nonzero start offset and a
        non-C-contiguous buffer view (both occur when streams are sliced
        out of a larger tile buffer)."""
        from cov_tiles_spark.covt.rle import decode_int_rle, encode_int_rle

        rng = np.random.default_rng(7)
        v = np.concatenate(
            [np.repeat(rng.integers(0, 9, 10), 40), rng.integers(0, 10**6, 200)]
        ).astype(np.int64)
        enc = encode_int_rle(v, signed=True)
        buf = np.frombuffer(b"\x00" * 5 + enc, np.uint8)
        dec, off = decode_int_rle(buf, len(v), offset=5, signed=True)
        assert off == 5 + len(enc)
        np.testing.assert_array_equal(dec, v)
        # non-contiguous view: every other byte of an interleaved buffer
        inter = np.zeros(2 * len(enc), dtype=np.uint8)
        inter[0::2] = np.frombuffer(enc, np.uint8)
        dec2, _ = decode_int_rle(inter[0::2], len(v), signed=True)
        np.testing.assert_array_equal(dec2, v)
