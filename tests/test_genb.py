"""Gen-B (current-format) COVT encode/decode roundtrips.

Structural parity target: `CovtParser.java:39-660` (metadata layout,
stream set, break conditions, implicit present streams) — no reference-
produced gen-B fixtures exist in the repo (the converter needs external
maven deps), so conformance here is self-roundtrip over every code path
plus byte-level layout assertions.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from cov_tiles_spark.covt import genb
from cov_tiles_spark.covt.decoder import GeometryColumn
from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput
from cov_tiles_spark.covt.genb import (
    StreamEncoding,
    _best_offsets,
    _best_vertex_buffer,
    _interleaved_zigzag_delta,
    decode_tile_genb,
    encode_tile_genb,
)
from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType
from cov_tiles_spark.covt.pfor import decode_pfor, encode_pfor
from cov_tiles_spark.covt.rle import encode_int_rle
from cov_tiles_spark.covt.varint import encode_varints, walk_varints, zigzag_encode


def _mixed_layer(n_points: int = 300) -> LayerInput:
    rng = np.random.default_rng(7)
    xs = rng.integers(0, 4096, n_points)
    ys = rng.integers(0, 4096, n_points)
    vb = np.empty(2 * n_points, dtype=np.int32)
    vb[0::2] = xs
    vb[1::2] = ys
    geom = GeometryColumn(
        geometry_types=np.full(n_points, GeometryType.POINT, np.uint8),
        vertex_buffer=vb,
    )
    present = np.ones(n_points, dtype=bool)
    present[::7] = False
    return LayerInput(
        name="images",
        geometry=geom,
        ids=np.arange(n_points, dtype=np.int64) * 3 + 1,
        properties={
            "caption": PropertyInput(
                ColumnDataType.STRING,
                np.array([f"cap-{i % 5}" for i in range(n_points)], dtype=object),
            ),
            "w": PropertyInput(ColumnDataType.INT_64, rng.integers(1, 4096, n_points)),
            "score": PropertyInput(
                ColumnDataType.FLOAT, rng.random(n_points).astype(np.float32)
            ),
            "flagged": PropertyInput(ColumnDataType.BOOLEAN, rng.random(n_points) > 0.5),
            "sparse": PropertyInput(
                ColumnDataType.INT_64,
                rng.integers(0, 100, int(present.sum())),
                present=present,
            ),
        },
        extent=4096,
    )


def _line_layer() -> LayerInput:
    rng = np.random.default_rng(3)
    # 40 linestrings of 20 vertices each, repeated coords to exercise ICE
    base = rng.integers(0, 512, (25, 2))
    parts = []
    part_offsets = []
    types = []
    for i in range(40):
        idx = rng.integers(0, 25, 20)
        parts.append(base[idx])
        part_offsets.append(20)
        types.append(GeometryType.LINESTRING)
    flat = np.concatenate(parts)
    vb = np.empty(flat.shape[0] * 2, dtype=np.int32)
    vb[0::2] = flat[:, 0]
    vb[1::2] = flat[:, 1]
    geom = GeometryColumn(
        geometry_types=np.array(types, np.uint8),
        vertex_buffer=vb,
        part_offsets=np.array(part_offsets, np.int64),
    )
    return LayerInput(name="roads", geometry=geom, ids=np.arange(40, dtype=np.int64))


def _poly_layer() -> LayerInput:
    # one polygon with a hole + one multipolygon of two shells
    types = np.array([GeometryType.POLYGON, GeometryType.MULTI_POLYGON], np.uint8)
    rings = [
        [(0, 0), (100, 0), (100, 100), (0, 100)],        # shell (open)
        [(40, 40), (60, 40), (60, 60), (40, 60)],        # hole
        [(200, 200), (300, 200), (250, 300)],            # mp shell 1
        [(400, 400), (500, 400), (450, 500)],            # mp shell 2
    ]
    flat = [v for ring in rings for v in ring]
    vb = np.empty(len(flat) * 2, dtype=np.int32)
    vb[0::2] = [x for x, _ in flat]
    vb[1::2] = [y for _, y in flat]
    geom = GeometryColumn(
        geometry_types=types,
        vertex_buffer=vb,
        geometry_offsets=np.array([2], np.int64),       # multipolygon: 2 polys
        part_offsets=np.array([2, 1, 1], np.int64),     # rings per polygon
        ring_offsets=np.array([4, 4, 3, 3], np.int64),  # open-ring vertex counts
    )
    return LayerInput(name="boundaries", geometry=geom)


def _assert_layer_roundtrip(layer: LayerInput, decoded) -> None:
    lay = decoded[layer.name]
    assert lay.metadata.num_features == len(layer.geometry.geometry_types)
    if layer.ids is not None:
        np.testing.assert_array_equal(lay.ids, layer.ids)
    np.testing.assert_array_equal(
        lay.geometry.geometry_types, layer.geometry.geometry_types
    )
    np.testing.assert_array_equal(lay.geometry.vertex_buffer, layer.geometry.vertex_buffer)
    for stream in ("geometry_offsets", "part_offsets", "ring_offsets"):
        want = getattr(layer.geometry, stream)
        got = getattr(lay.geometry, stream)
        if want is None or len(want) == 0:
            assert got is None or len(got) == 0
        else:
            np.testing.assert_array_equal(got, np.asarray(want))
    for name, prop in (layer.properties or {}).items():
        got = lay.properties[name]
        n = lay.metadata.num_features
        present = (
            prop.present.astype(bool) if prop.present is not None
            else np.ones(n, dtype=bool)
        )
        if prop.data_type == ColumnDataType.BOOLEAN:
            dense = np.zeros(n, dtype=bool)
            dense[present] = np.asarray(prop.values, dtype=bool)
            np.testing.assert_array_equal(got.data, dense)
        elif prop.data_type == ColumnDataType.STRING:
            np.testing.assert_array_equal(got.present, present)
            vals = [got.dictionary[int(i)] for i in got.data]
            assert vals == list(np.asarray(prop.values, dtype=object))
        elif prop.data_type == ColumnDataType.FLOAT:
            np.testing.assert_array_equal(got.present, present)
            np.testing.assert_array_equal(got.data, np.asarray(prop.values, np.float32))
        else:
            np.testing.assert_array_equal(got.present, present)
            np.testing.assert_array_equal(got.data, np.asarray(prop.values, np.int64))


@pytest.mark.parametrize("optimize", [True, False])
def test_genb_roundtrip_points_props(optimize):
    layer = _mixed_layer()
    payload, tilejson = encode_tile_genb([layer], optimize_metadata=optimize)
    decoded = decode_tile_genb(payload, tilejson if optimize else None)
    _assert_layer_roundtrip(layer, decoded)


def test_genb_optimized_requires_tilejson():
    layer = _mixed_layer(32)
    payload, _ = encode_tile_genb([layer], optimize_metadata=True)
    with pytest.raises(ValueError, match="TileJSON"):
        decode_tile_genb(payload, None)


def test_genb_rejects_column_type_outside_reference_enum():
    """Column type 5 is not one of the reference's five, so the geometry
    descriptor that carries it fails decode."""
    layer = LayerInput(name="roads", geometry=_line_layer().geometry)
    payload, tj = encode_tile_genb([layer])
    # after the layer header byte: layer id, extent, feature count,
    # column count, then the geometry column's id and its descriptor
    _, pos = walk_varints(payload, 5, 1)
    assert payload[pos] == (genb.GDataType.GEOMETRY << 3) | genb.GColumnType.PLAIN
    decode_tile_genb(payload, tj)
    bad = bytearray(payload)
    bad[pos] = (bad[pos] & ~0x7) | 5
    with pytest.raises(ValueError):
        decode_tile_genb(bytes(bad), tj)


@pytest.mark.parametrize("genc", ["plain", "ice", "ice_morton"])
def test_genb_roundtrip_lines(genc):
    layer = _line_layer()
    payload, tilejson = encode_tile_genb([layer], geometry_encoding=genc)
    decoded = decode_tile_genb(payload, tilejson)
    _assert_layer_roundtrip(layer, decoded)


def test_genb_roundtrip_polygons():
    layer = _poly_layer()
    for genc in ("plain", "ice"):
        payload, tilejson = encode_tile_genb([layer], geometry_encoding=genc)
        decoded = decode_tile_genb(payload, tilejson)
        _assert_layer_roundtrip(layer, decoded)


def test_genb_multilayer_roundtrip():
    layers = [_mixed_layer(200), _line_layer(), _poly_layer()]
    payload, tj = encode_tile_genb(layers)
    decoded = decode_tile_genb(payload, tj)
    assert set(decoded) == {"images", "roads", "boundaries"}
    for layer in layers:
        _assert_layer_roundtrip(layer, decoded)


# SHA-256 of the three-layer tile per geometry mode, pinned when the
# FAST_PFOR stream choice was last changed; every mode picks FAST_PFOR
# for some topology or vertex stream of these layers
_PINNED_TILES = {
    "plain": "26af8889739ef700c25bf6b10a5ca3a28d2eccb505748117e7e203d91eecc8d6",
    "ice": "5595629290eb77f3a6c2dff065188f1cb5e572e3fffd522dfe9631ac2f9713ea",
    "ice_morton": "3d4be74d98dff5c9d054bf11ab2a130307667cb25a441bb69714103613e61d8a",
    "best": "f8c22c06acebf004498a7d341c9a2976dce3adb70a06f72a8545a335e5d188b0",
}


@pytest.mark.parametrize("genc", sorted(_PINNED_TILES))
def test_genb_fastpfor_tile_bytes_pinned(genc, monkeypatch):
    """Each geometry mode writes the pinned bytes, and its FAST_PFOR
    streams decode back through ``decode_pfor``."""
    layers = [_mixed_layer(300), _line_layer(), _poly_layer()]
    payload, tj = encode_tile_genb(layers, geometry_encoding=genc)
    assert hashlib.sha256(payload).hexdigest() == _PINNED_TILES[genc]
    pfor_decodes = []

    def counting_decode_pfor(*args, **kwargs):
        pfor_decodes.append(args)
        return decode_pfor(*args, **kwargs)

    monkeypatch.setattr(genb, "decode_pfor", counting_decode_pfor)
    decoded = decode_tile_genb(payload, tj)
    assert pfor_decodes, "no FAST_PFOR stream in the tile"
    for layer in layers:
        _assert_layer_roundtrip(layer, decoded)


def test_genb_fastpfor_topology_stream_decodes():
    vals = np.sort(np.random.default_rng(11).integers(0, 5000, 4000))
    enc, data = _best_offsets(vals.astype(np.int64))
    assert enc == StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG
    got, off = decode_pfor(
        np.frombuffer(data, np.uint8), len(vals), zigzag=True, delta=True
    )
    assert off == len(data)
    np.testing.assert_array_equal(got, vals)


@settings(max_examples=80, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1), max_size=600))
@example([])
@example([7])
def test_best_offsets_never_longer_than_rle(vals):
    v = np.array(vals, dtype=np.int64)
    _, data = _best_offsets(v)
    assert len(data) <= len(encode_int_rle(v, signed=False))


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**20), max_value=2**20),
            st.integers(min_value=-(2**20), max_value=2**20),
        ),
        max_size=300,
    )
)
@example([])
@example([(-3, 4100)])
def test_best_vertex_buffer_never_longer_than_varint(points):
    vb = np.array(points, dtype=np.int64).reshape(-1)
    _, data = _best_vertex_buffer(vb)
    assert len(data) <= len(
        encode_varints(zigzag_encode(_interleaved_zigzag_delta(vb)))
    )


def test_genb_localized_dictionary_extension():
    """Format-reserved LOCALIZED_DICTIONARY (ColumnType 2): locales share
    one dictionary; followers carry an empty DICTIONARY marker so the
    parser's break-at-DICTIONARY state machine is preserved."""
    n = 10
    geom = GeometryColumn(
        geometry_types=np.full(n, GeometryType.POINT, np.uint8),
        vertex_buffer=np.arange(2 * n, dtype=np.int32),
    )
    present_de = np.array([True] * 6 + [False] * 4)
    names = np.array([f"city-{i % 3}" for i in range(n)], dtype=object)
    names_de = np.array([f"stadt-{i % 3}" for i in range(6)], dtype=object)
    layer = LayerInput(
        name="place",
        geometry=geom,
        localized={
            "name": {
                "name": PropertyInput(ColumnDataType.STRING, names),
                "name:de": PropertyInput(ColumnDataType.STRING, names_de, present_de),
            }
        },
    )
    payload, tj = encode_tile_genb([layer])
    dec = decode_tile_genb(payload, tj)["place"]
    got = dec.properties["name"]
    got_de = dec.properties["name:de"]
    assert got.dictionary is got_de.dictionary  # genuinely shared
    assert [got.dictionary[int(i)] for i in got.data] == list(names)
    np.testing.assert_array_equal(got_de.present, present_de)
    assert [got_de.dictionary[int(i)] for i in got_de.data] == list(names_de)

    # shared dictionary must be smaller than two independent ones when
    # locales overlap heavily
    shared_vals = np.array(["common-" + str(i % 4) for i in range(n)], dtype=object)
    layer_shared = LayerInput(
        name="place", geometry=geom,
        localized={"name": {
            "name": PropertyInput(ColumnDataType.STRING, shared_vals),
            "name:en": PropertyInput(ColumnDataType.STRING, shared_vals.copy()),
        }},
    )
    layer_split = LayerInput(
        name="place", geometry=geom,
        properties={
            "name": PropertyInput(ColumnDataType.STRING, shared_vals),
            "name:en": PropertyInput(ColumnDataType.STRING, shared_vals.copy()),
        },
    )
    p_shared, _ = encode_tile_genb([layer_shared])
    p_split, _ = encode_tile_genb([layer_split])
    assert len(p_shared) < len(p_split)


def test_pfor_exceptions_and_tail():
    rng = np.random.default_rng(11)
    v = rng.integers(0, 200, 1000).astype(np.int64)
    v[::37] = 1 << 24  # outliers -> patched exceptions
    enc = encode_pfor(v)
    dec, off = decode_pfor(np.frombuffer(enc, np.uint8), len(v))
    assert off == len(enc)
    np.testing.assert_array_equal(dec, v)
    # exceptions must beat brute-force max-width packing
    wide = encode_pfor(np.full(1000, 1 << 24, dtype=np.int64))
    assert len(enc) < 1000 * 25 // 8
