"""Property-based codec tests (hypothesis): encode∘decode == id for
arbitrary inputs, not just the seeded fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cov_tiles_spark.covt.bitset import pack_bitset, unpack_bitset
from cov_tiles_spark.covt.rle import (
    decode_byte_rle,
    decode_int_rle,
    encode_byte_rle,
    encode_int_rle,
    skip_byte_rle,
)
from cov_tiles_spark.covt.sfc import hilbert_d2xy, hilbert_xy2d, morton_decode, morton_encode
from cov_tiles_spark.covt import rle, varint
from cov_tiles_spark.covt.varint import (
    decode_varint,
    decode_varints,
    decode_zigzag_varints,
    encode_varints,
    encode_zigzag_varints,
    walk_varints,
)

_settings = settings(max_examples=60, deadline=None)


@_settings
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    buf = np.frombuffer(encode_varints(arr), dtype=np.uint8)
    out, off = decode_varints(buf, len(arr)) if len(arr) else (arr, 0)
    np.testing.assert_array_equal(out, arr)
    assert off == len(buf)


@_settings
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=300))
def test_zigzag_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    buf = np.frombuffer(encode_zigzag_varints(arr), dtype=np.uint8)
    out, _ = decode_zigzag_varints(buf, len(arr)) if len(arr) else (arr, 0)
    np.testing.assert_array_equal(out, arr)


# ---- the dispatch boundary: streams of at most SMALL_STREAM values take
# the scalar walk, longer ones the vectorized path; both must agree. Each
# test forces both paths, at lengths on both sides of either module's
# bound (64 values for varints, 256 for int RLE)


def _spread_values(n: int, seed: int) -> np.ndarray:
    """``n`` uint64 values whose varints take 1 to 10 bytes, with
    2^64-1 among them."""
    rng = np.random.default_rng(seed)
    k = rng.integers(1, 11, n)  # byte length of each value's varint
    lo = np.where(k == 1, 0, 1 << np.minimum(7 * (k - 1), 63).astype(np.uint64))
    span = np.where(k == 10, np.uint64(2**63), (np.uint64(1) << (7 * k).astype(np.uint64)) - lo)
    vals = lo + (rng.random(n) * span.astype(np.float64)).astype(np.uint64) % span
    vals[rng.integers(0, n)] = 2**64 - 1
    return vals.astype(np.uint64)


def _embedded(stream: bytes, seed: int) -> tuple[np.ndarray, int]:
    """``stream`` inside a larger buffer, after a prefix that holds
    continuation bytes, and before a suffix of junk."""
    rng = np.random.default_rng(seed)
    pre = rng.integers(0, 256, 13).astype(np.uint8).tobytes()
    post = rng.integers(0, 256, 9).astype(np.uint8).tobytes()
    return np.frombuffer(pre + stream + post, dtype=np.uint8), len(pre)


def _both_paths(decode, buf, n, offset, monkeypatch):
    """(scalar result, vectorized result) of ``decode`` on one stream."""
    with monkeypatch.context() as m:
        m.setattr(varint, "SMALL_STREAM", 10**9)
        scalar = decode(buf, n, offset)
        m.setattr(varint, "SMALL_STREAM", 0)
        vector = decode(buf, n, offset)
    return scalar, vector


@pytest.mark.parametrize("n", [1, 64, 65, 255, 256, 257, 1000])
def test_scalar_and_vectorized_varints_agree(n, monkeypatch):
    vals = _spread_values(n, seed=n)
    enc = encode_varints(vals)
    buf, start = _embedded(enc, seed=n)
    (s_vals, s_end), (v_vals, v_end) = _both_paths(
        decode_varints, buf, n, start, monkeypatch
    )
    assert s_vals.dtype == v_vals.dtype == np.uint64
    np.testing.assert_array_equal(s_vals, vals)
    np.testing.assert_array_equal(v_vals, vals)
    assert s_end == v_end == start + len(enc)
    walked, w_end = walk_varints(memoryview(buf), n, start)
    assert walked == vals.tolist() and w_end == s_end
    d_vals, d_end = decode_varints(buf, n, start)  # the default dispatch
    np.testing.assert_array_equal(d_vals, vals)
    assert d_end == s_end


@pytest.mark.parametrize("n", [1, 64, 65, 255, 256, 257, 1000])
def test_scalar_and_vectorized_zigzag_varints_agree(n, monkeypatch):
    signed = _spread_values(n, seed=100 + n).view(np.int64)
    enc = encode_zigzag_varints(signed)
    buf, start = _embedded(enc, seed=100 + n)
    (s_vals, s_end), (v_vals, v_end) = _both_paths(
        decode_zigzag_varints, buf, n, start, monkeypatch
    )
    assert s_vals.dtype == v_vals.dtype == np.int64
    np.testing.assert_array_equal(s_vals, signed)
    np.testing.assert_array_equal(v_vals, signed)
    assert s_end == v_end == start + len(enc)


@pytest.mark.parametrize("n", [1, 65, 256, 1000])
@pytest.mark.parametrize("decode", [decode_varints, decode_zigzag_varints])
def test_overlong_and_truncated_varints_raise_in_both_paths(n, decode, monkeypatch):
    enc = encode_varints(_spread_values(n, seed=200 + n))
    # an 11-byte varint (ten continuation bytes) as the stream's last value
    overlong = encode_varints(np.zeros(n - 1, np.uint64)) + bytes([0xFF] * 10 + [1])
    for stream in (overlong, bytes([0x80] * 12 + [1]) * n):
        buf, start = _embedded(stream, seed=n)
        with monkeypatch.context() as m:
            for small in (10**9, 0):
                m.setattr(varint, "SMALL_STREAM", small)
                with pytest.raises(ValueError, match="longer than 10 bytes"):
                    decode(buf, n, start)
    truncated = np.frombuffer(enc[:-1], dtype=np.uint8)
    with monkeypatch.context() as m:
        for small in (10**9, 0):
            m.setattr(varint, "SMALL_STREAM", small)
            with pytest.raises(ValueError, match="buffer exhausted"):
                decode(truncated, n, 0)


def test_single_varint_rejects_an_eleventh_byte():
    assert decode_varint(encode_varints(np.array([2**64 - 1], np.uint64))) == (
        2**64 - 1,
        10,
    )
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        decode_varint(bytes([0xFF] * 10 + [1]))
    with pytest.raises(ValueError, match="buffer exhausted"):
        decode_varint(bytes([0x80, 0x80]))


@pytest.mark.parametrize("n", [255, 256, 257])
@pytest.mark.parametrize("signed", [False, True])
def test_int_rle_small_and_vectorized_paths_agree(n, signed, monkeypatch):
    vals = _spread_values(n, seed=300 + n)
    vals[: n // 3] = np.arange(n // 3, dtype=np.uint64)  # a run block too
    arr = vals.view(np.int64)
    enc = encode_int_rle(arr, signed=signed)
    buf, start = _embedded(enc, seed=n)
    outs = []
    with monkeypatch.context() as m:
        for small in (10**9, 0):
            m.setattr(rle, "SMALL_STREAM", small)
            outs.append(decode_int_rle(buf, n, start, signed=signed))
    for out, end in outs:
        np.testing.assert_array_equal(out.view(np.int64), arr)
        assert end == start + len(enc)
    # an 11-byte literal is rejected by both paths as well
    bad = np.frombuffer(bytes([256 - 1] + [0xFF] * 10 + [1]), dtype=np.uint8)
    with monkeypatch.context() as m:
        for small in (10**9, 0):
            m.setattr(rle, "SMALL_STREAM", small)
            with pytest.raises(ValueError, match="longer than 10 bytes"):
                decode_int_rle(bad, 1, 0)


@_settings
@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=400),
    st.booleans(),
)
def test_int_rle_roundtrip(vals, signed):
    if not signed:
        vals = [abs(v) for v in vals]
    arr = np.array(vals, dtype=np.int64)
    buf = np.frombuffer(encode_int_rle(arr, signed=signed), dtype=np.uint8)
    out, off = decode_int_rle(buf, len(arr), signed=signed)
    np.testing.assert_array_equal(out.astype(np.int64), arr)
    assert off == len(buf)


@_settings
@given(st.binary(max_size=600))
def test_byte_rle_roundtrip(raw):
    arr = np.frombuffer(raw, dtype=np.uint8)
    buf = np.frombuffer(encode_byte_rle(arr), dtype=np.uint8)
    out, off = decode_byte_rle(buf, len(arr))
    np.testing.assert_array_equal(out, arr)
    assert off == len(buf)
    assert skip_byte_rle(buf.tobytes(), len(arr)) == off


@_settings
@given(st.lists(st.booleans(), max_size=200))
def test_bitset_roundtrip(bits):
    arr = np.array(bits, dtype=bool)
    packed = pack_bitset(arr, len(arr))
    np.testing.assert_array_equal(unpack_bitset(packed, len(arr)), arr)


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**13 - 1),
            st.integers(min_value=0, max_value=2**13 - 1),
        ),
        min_size=1,
        max_size=100,
    )
)
def test_hilbert_bijective(points):
    x = np.array([p[0] for p in points], dtype=np.uint64)
    y = np.array([p[1] for p in points], dtype=np.uint64)
    d = hilbert_xy2d(13, x, y)
    rx, ry = hilbert_d2xy(13, d)
    np.testing.assert_array_equal(rx, x)
    np.testing.assert_array_equal(ry, y)


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-2048, max_value=2047),
            st.integers(min_value=-2048, max_value=2047),
        ),
        min_size=1,
        max_size=100,
    )
)
def test_morton_bijective(points):
    x = np.array([p[0] for p in points], dtype=np.int64)
    y = np.array([p[1] for p in points], dtype=np.int64)
    code = morton_encode(x, y, 4096)
    rx, ry = morton_decode(code, 4096)
    np.testing.assert_array_equal(rx, x)
    np.testing.assert_array_equal(ry, y)


@_settings
@given(
    st.lists(st.integers(min_value=-(2**45), max_value=2**45), min_size=1, max_size=600),
    st.booleans(),
    st.booleans(),
)
def test_pfor_roundtrip(vals, zigzag, delta):
    """Patched frame-of-reference (FastPFOR analogue, covt/pfor.py):
    any int64 stream round-trips under all flag combinations."""
    from cov_tiles_spark.covt.pfor import decode_pfor, encode_pfor

    if not (zigzag or delta):
        vals = [abs(v) for v in vals]
    arr = np.array(vals, dtype=np.int64)
    buf = np.frombuffer(
        encode_pfor(arr, zigzag=zigzag, delta=delta), dtype=np.uint8
    )
    out, _off = decode_pfor(buf, len(arr), zigzag=zigzag, delta=delta)
    np.testing.assert_array_equal(np.asarray(out, dtype=np.int64), arr)


# values the tile pipeline's string columns carry, plus None
_CODER_STRINGS = ["", "raw", "rle", "caption 7", "é", "東京", "naïve café", "🗺"]


@_settings
@pytest.mark.parametrize("min_n, max_n", [(0, 256), (257, 700)])
@given(
    pool=st.lists(
        st.one_of(st.none(), st.sampled_from(_CODER_STRINGS), st.text(max_size=6)),
        min_size=1, max_size=40,
    ),
    data=st.data(),
)
def test_first_occurrence_codes_matches_factorize_strings(min_n, max_n, pool, data):
    """The shared dictionary coder equals pandas' first-appearance
    factorize on both sides of its 256-value switch: identical codes,
    and uniques equal up to None, which pandas returns as NaN."""
    import pandas as pd

    from cov_tiles_spark.covt.encoder import first_occurrence_codes

    n = data.draw(st.integers(min_n, max_n))
    picks = data.draw(st.lists(st.integers(0, len(pool) - 1), min_size=n, max_size=n))
    x = np.empty(n, dtype=object)
    x[:] = [pool[i] for i in picks]
    codes, uniques = first_occurrence_codes(x)
    want_codes, want_uniques = pd.factorize(pd.Series(x), use_na_sentinel=False)
    np.testing.assert_array_equal(codes, want_codes)
    assert codes.dtype == np.int64
    assert [None if pd.isna(u) else u for u in uniques] == [
        None if pd.isna(u) else u for u in want_uniques
    ]


@_settings
@pytest.mark.parametrize("min_n, max_n", [(0, 256), (257, 700)])
@given(
    pool=st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=300),
    data=st.data(),
)
def test_first_occurrence_codes_matches_factorize_ints(min_n, max_n, pool, data):
    import pandas as pd

    from cov_tiles_spark.covt.encoder import first_occurrence_codes

    n = data.draw(st.integers(min_n, max_n))
    picks = data.draw(st.lists(st.integers(0, len(pool) - 1), min_size=n, max_size=n))
    x = np.array([pool[i] for i in picks], dtype=np.int64)
    codes, uniques = first_occurrence_codes(x)
    want_codes, want_uniques = pd.factorize(pd.Series(x), use_na_sentinel=False)
    np.testing.assert_array_equal(codes, want_codes)
    np.testing.assert_array_equal(uniques, np.asarray(want_uniques))
    assert uniques.dtype == np.int64


def _coder_layer():
    """One fixed 300-feature point layer whose string columns take both
    coder branches: ``caption`` has 300 present values (pandas branch),
    ``note`` 100 (dict walk); both hold repeats, '' and non-ASCII, and
    None at the absent positions."""
    from cov_tiles_spark.covt.decoder import GeometryColumn
    from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput
    from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType

    n = 300
    i = np.arange(n)
    caption = np.array(
        [_CODER_STRINGS[(k * 7) % len(_CODER_STRINGS)] + ("" if k % 3 else f" {k}")
         for k in range(n)],
        dtype=object,
    )
    note_present = i % 3 == 0
    note = np.array(
        [_CODER_STRINGS[k % len(_CODER_STRINGS)] if p else None
         for k, p in zip(range(n), note_present)],
        dtype=object,
    )
    vb = np.empty(2 * n, dtype=np.int32)
    vb[0::2] = (i * 37) % 4096
    vb[1::2] = (i * 101) % 4096
    return LayerInput(
        name="images",
        geometry=GeometryColumn(
            geometry_types=np.full(n, GeometryType.POINT, np.uint8), vertex_buffer=vb
        ),
        ids=(i * 3 + 1).astype(np.int64),
        properties={
            "caption": PropertyInput(ColumnDataType.STRING, caption),
            "note": PropertyInput(ColumnDataType.STRING, note, note_present),
            "w": PropertyInput(ColumnDataType.UINT_64, (i % 5 + 16).astype(np.int64)),
        },
        extent=4096,
    )


def test_string_dictionary_payloads_are_pinned():
    """The gen-A and gen-B payload bytes of :func:`_coder_layer` equal
    the digests taken before the dictionary coder replaced
    ``pd.factorize`` in both encoders."""
    import hashlib

    from cov_tiles_spark.covt.encoder import encode_tile
    from cov_tiles_spark.covt.genb import encode_tile_genb

    gena = encode_tile([_coder_layer()])
    genb, _ = encode_tile_genb([_coder_layer()], optimize_metadata=False)
    assert hashlib.sha256(gena).hexdigest() == _GENA_SHA256
    assert hashlib.sha256(genb).hexdigest() == _GENB_SHA256


_GENA_SHA256 = "a939a5003d8802e835e0d31a3d65e73acd69fe4b2bd8bf8cc498b582d43671c4"
_GENB_SHA256 = "ec4f19b5e7189be8b041e0bf35f97214fdec34e5d3cf9a4d90c01f06e918b7c8"
