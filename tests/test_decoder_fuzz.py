"""Decoder robustness fuzz: corrupted tiles must fail CLEANLY.

A 100 TB ingest will see truncated objects and bit rot. The decoders
may reject corrupt input with any ordinary exception — what they must
never do is hang, crash the interpreter, or silently return data from a
TRUNCATED buffer (bit flips that decode to different-but-valid content
are indistinguishable from valid tiles by construction; truncation is
always detectable and must never round-trip quietly to the same feature
count with missing bytes)."""

from __future__ import annotations

import glob

import numpy as np
import pytest

from cov_tiles_spark.covt.decoder import decode_covt
from cov_tiles_spark.covt.mvt import decode_mvt

GOLDEN = sorted(
    glob.glob("/root/reference/parser/js/data/*/*.covt")
)[:6]  # bounded corpus: fuzzing all 15 tiles x many offsets is slow


def _tiles():
    return [(p, open(p, "rb").read()) for p in GOLDEN]


@pytest.mark.parametrize("path,data", _tiles(), ids=lambda v: str(v)[-20:])
def test_truncation_never_silently_succeeds(path, data):
    if not isinstance(data, bytes):
        pytest.skip("param id pass")
    n_layers = len(decode_covt(data))
    rng = np.random.default_rng(1)
    cuts = sorted(set(rng.integers(1, len(data), 25).tolist()))
    for cut in cuts:
        try:
            layers = decode_covt(data[:cut])
        except Exception:
            continue  # clean rejection: fine
        # a prefix that decodes at all must not claim the full tile
        assert len(layers) < n_layers, f"{path}: silent success at cut={cut}"


@pytest.mark.parametrize("path,data", _tiles(), ids=lambda v: str(v)[-20:])
def test_bit_flips_fail_cleanly_or_decode(path, data):
    if not isinstance(data, bytes):
        pytest.skip("param id pass")
    rng = np.random.default_rng(2)
    for _ in range(25):
        pos = int(rng.integers(0, len(data)))
        bit = int(rng.integers(0, 8))
        mutated = bytearray(data)
        mutated[pos] ^= 1 << bit
        try:
            decode_covt(bytes(mutated))
        except Exception:
            pass  # any ordinary exception is a clean rejection


def test_mvt_reader_rejects_covt_and_truncations():
    covt = open(GOLDEN[0], "rb").read()
    with pytest.raises(Exception):
        decode_mvt(covt)
    mvts = sorted(glob.glob("/root/reference/parser/js/data/omt/*.mvt"))[:2]
    rng = np.random.default_rng(3)
    for p in mvts:
        data = open(p, "rb").read()
        for cut in rng.integers(1, len(data), 15).tolist():
            try:
                decode_mvt(data[: int(cut)])
            except Exception:
                pass  # clean rejection


def test_genb_bit_flips_fail_cleanly():
    from cov_tiles_spark.covt.genb import decode_tile_genb
    from cov_tiles_spark.pipeline.transcode import mvt_to_genb

    mvt = open("/root/reference/parser/js/data/omt/5_16_20.mvt", "rb").read()
    payload, tilejson, _, _ = mvt_to_genb(mvt)
    decode_tile_genb(payload, tilejson)  # sanity: valid tile decodes
    rng = np.random.default_rng(4)
    for _ in range(25):
        pos = int(rng.integers(0, len(payload)))
        mutated = bytearray(payload)
        mutated[pos] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_tile_genb(bytes(mutated), tilejson)
        except Exception:
            pass  # clean rejection
    for cut in rng.integers(1, len(payload), 20).tolist():
        try:
            decode_tile_genb(payload[: int(cut)], tilejson)
        except Exception:
            pass


# ---- self-contained corpus: the same two checks on tiles built here, so
# the decoders are fuzzed even where the reference snapshot is absent


def _rows_tile(wire_format):
    from cov_tiles_spark.pipeline.materialize import _encode_tile_rows

    rng = np.random.default_rng(11)
    n = 24
    return _encode_tile_rows(
        4, 3, 5,
        ids=rng.permutation(10**6)[:n].astype(np.int64),
        local_x=rng.integers(0, 4096, n), local_y=rng.integers(0, 4096, n),
        caption=np.array([f"caption {i % 5}" for i in range(n)], dtype=object),
        fmt=np.array([("jpeg", "png")[i % 2] for i in range(n)], dtype=object),
        w=rng.integers(1, 5000, n), h=rng.integers(1, 5000, n),
        phash=rng.integers(-(2**62), 2**62, n),
        with_mvt_baseline=False, wire_format=wire_format,
    )["payload"]


def _geometry_tile(kind, shared):
    """One ``encode_tile`` layer of 12 linestrings or 12 polygons with a
    hole. ``shared`` draws every vertex from a 9-point pool, so ICE wins
    the encoder's size contest; otherwise every vertex is distinct and
    the plain vertex buffer wins."""
    from cov_tiles_spark.covt.decoder import GeometryColumn
    from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput, encode_tile
    from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType

    rng = np.random.default_rng(12)
    n = 12
    pool = rng.integers(0, 3000, (9, 2))
    part_offsets, ring_offsets, verts = [], [], []
    for _ in range(n):
        if kind == "line":
            k = int(rng.integers(2, 7))
            pts = pool[rng.integers(0, 9, k)] if shared else rng.integers(0, 4096, (k, 2))
            part_offsets.append(k)
            verts.append(pts)
        else:  # polygon: outer square + inner square hole, open rings
            if shared:
                (x, y), s = pool[rng.integers(0, 3)].tolist(), 400
            else:
                x, y, s = int(rng.integers(0, 3000)), int(rng.integers(0, 3000)), int(rng.integers(200, 900))
            outer = [(x, y), (x + s, y), (x + s, y + s), (x, y + s)]
            q = s // 4
            hole = [(x + q, y + q), (x + q, y + 3 * q), (x + 3 * q, y + 3 * q), (x + 3 * q, y + q)]
            part_offsets.append(2)
            ring_offsets += [4, 4]
            verts += [np.array(outer), np.array(hole)]
    gtype = GeometryType.LINESTRING if kind == "line" else GeometryType.POLYGON
    geom = GeometryColumn(
        geometry_types=np.full(n, gtype, np.uint8),
        vertex_buffer=np.concatenate(verts).astype(np.int32).ravel(),
        part_offsets=np.asarray(part_offsets, np.int64),
        ring_offsets=np.asarray(ring_offsets, np.int64) if ring_offsets else None,
    )
    layer = LayerInput(
        name=kind, geometry=geom, ids=np.arange(n, dtype=np.int64),
        properties={"rank": PropertyInput(ColumnDataType.INT_64, rng.integers(0, 99, n))},
    )
    return encode_tile([layer])


def _self_contained_tiles():
    from cov_tiles_spark.covt.genb import decode_tile_genb
    from cov_tiles_spark.covt.metadata import ColumnEncoding

    ice = ColumnEncoding.INDEXED_COORDINATE_ENCODING
    cases = [
        ("points-gena", _rows_tile("gena"), decode_covt, None),
        ("points-genb", _rows_tile("genb"), decode_tile_genb, None),
    ]
    for kind in ("line", "polygon"):
        for shared in (False, True):
            cases.append(
                (f"{kind}-{'ice' if shared else 'plain'}", _geometry_tile(kind, shared),
                 decode_covt, ice if shared else ColumnEncoding.PLAIN)
            )
    return cases


_SELF_CONTAINED = _self_contained_tiles()


def _n_features(layers) -> int:
    return sum(lay.metadata.num_features for lay in layers.values())


@pytest.mark.parametrize(
    "data,decode,geom_encoding",
    [c[1:] for c in _SELF_CONTAINED], ids=[c[0] for c in _SELF_CONTAINED],
)
def test_self_contained_truncation_never_silently_succeeds(data, decode, geom_encoding):
    full = decode(data)
    n_full = _n_features(full)
    assert n_full in (12, 24)
    if geom_encoding is not None:  # the tile exercises the intended path
        (lay,) = full.values()
        (geom,) = [c for c in lay.metadata.columns if c.name == "geometry"]
        assert geom.encoding == geom_encoding
    for cut in range(1, len(data)):
        try:
            layers = decode(data[:cut])
        except Exception:
            continue  # clean rejection: fine
        assert _n_features(layers) < n_full, f"silent success at cut={cut}"


@pytest.mark.parametrize(
    "data,decode", [c[1:3] for c in _SELF_CONTAINED], ids=[c[0] for c in _SELF_CONTAINED]
)
def test_self_contained_bit_flips_fail_cleanly_or_decode(data, decode):
    rng = np.random.default_rng(2)
    for _ in range(25):
        mutated = bytearray(data)
        mutated[int(rng.integers(0, len(data)))] ^= 1 << int(rng.integers(0, 8))
        try:
            decode(bytes(mutated))
        except Exception:
            pass  # any ordinary exception is a clean rejection


# ---- MVT reader on self-built tiles (points, lines, a polygon with a hole)


def _mvt_tiles():
    from test_transcode import _self_built_tile

    return [_self_built_tile(seed) for seed in (1, 2)]


def _mvt_features(layers) -> int:
    return sum(len(lay.features) for lay in layers)


@pytest.mark.parametrize("data", _mvt_tiles(), ids=["mvt-1", "mvt-2"])
def test_mvt_truncation_raises_value_error_or_drops_layers(data):
    """Every cut raises ValueError, as the COVT decoders do, except a cut
    on a layer boundary, which is a valid tile of fewer features."""
    n_full = _mvt_features(decode_mvt(data))
    assert n_full == 16
    for cut in range(1, len(data)):
        try:
            layers = decode_mvt(data[:cut])
        except ValueError:
            continue
        assert _mvt_features(layers) < n_full, f"silent success at cut={cut}"


@pytest.mark.parametrize("data", _mvt_tiles(), ids=["mvt-1", "mvt-2"])
def test_mvt_bit_flips_fail_cleanly_or_decode(data):
    rng = np.random.default_rng(5)
    for _ in range(50):
        mutated = bytearray(data)
        mutated[int(rng.integers(0, len(data)))] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_mvt(bytes(mutated))
        except ValueError:
            pass  # the one clean rejection, as the COVT decoders give


def _one_feature_tile(feature: bytes, value: bytes) -> bytes:
    """An MVT tile of one layer holding one feature, one key and one
    value, built field by field so each can be corrupted on its own."""
    from cov_tiles_spark.covt.mvt import _ld

    return _ld(3, _ld(1, b"l") + _ld(2, feature) + _ld(3, b"k") + _ld(4, value))


@pytest.mark.parametrize(
    "feature, value",
    [
        pytest.param(b"\x12\x02\x00\x01\x22\x03\x09\x02\x02",
                     b"\x0a\x01v", id="tag-index-past-values"),
        pytest.param(b"\x12\x01\x00\x22\x03\x09\x02\x02",
                     b"\x0a\x01v", id="odd-tag-count"),
        pytest.param(b"\x22\x03\x09\x02\x02", b"\x15\x00\x00",
                     id="float-past-value"),
        pytest.param(b"\x22\x03\x09\x02\x02", b"\x19\x00\x00\x00",
                     id="double-past-value"),
        pytest.param(b"\x22\x03\x0a\x02\x02", b"\x0a\x01v",
                     id="lineto-before-moveto"),
        pytest.param(b"\x22\x01\x0f", b"\x0a\x01v", id="closepath-before-moveto"),
    ],
)
def test_mvt_corrupt_fields_raise_value_error(feature, value):
    """Tag indices past the key/value tables, an odd tag count, a float or
    double running past its value, and a LineTo or ClosePath with no
    current point are corrupt input: ValueError, like a truncation."""
    good = decode_mvt(_one_feature_tile(
        b"\x12\x02\x00\x00\x22\x03\x09\x02\x02", b"\x0a\x01v"
    ))
    assert [(f.geometry, f.properties) for f in good[0].features] == [
        ([[(1, 1)]], {"k": "v"})
    ]
    with pytest.raises(ValueError, match="malformed MVT"):
        decode_mvt(_one_feature_tile(feature, value))


def test_mvt_varint_is_bounded_to_ten_bytes():
    from cov_tiles_spark.covt.varint import decode_varint

    assert decode_varint(bytes([0xFF] * 9 + [1]), 0) == (2**64 - 1, 10)
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        decode_varint(bytes([0xFF] * 10 + [1]), 0)
    with pytest.raises(ValueError, match="buffer exhausted"):
        decode_varint(bytes([0x80, 0x80]), 0)
    # a tile whose first field key is overlong
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        decode_mvt(bytes([0x9A] + [0xFF] * 9 + [1]))


def test_mvt_varint_agrees_with_the_shared_walk_and_writer():
    """The MVT reader's single varint (`varint.decode_varint`) and the
    shared walk return the same value and offset, or both raise
    ValueError, on random bytes; the scalar writer matches the
    vectorized one."""
    from cov_tiles_spark.covt.varint import (
        decode_varint,
        encode_varint,
        encode_varints,
        walk_varints,
    )

    def walk_one(buf, offset):
        (value,), offset = walk_varints(buf, 1, offset)
        return value, offset

    def outcome(read, buf):
        try:
            return read(buf, 0)
        except ValueError:
            return None

    rng = np.random.default_rng(6)
    for _ in range(2000):
        buf = rng.integers(0, 256, int(rng.integers(1, 13)), dtype=np.uint8)
        buf[: int(rng.integers(0, len(buf) + 1))] |= 0x80  # long varints too
        buf = buf.tobytes()
        assert outcome(decode_varint, buf) == outcome(walk_one, buf), buf
    for v in (0, 1, 127, 128, 300, 2**35 + 7, 2**63, 2**64 - 1):
        assert encode_varint(v) == encode_varints(np.array([v], dtype=np.uint64))
        assert decode_varint(encode_varint(v), 0) == (v, len(encode_varint(v)))
