"""Topological Arc Encoding (eval-only, covt/tae.py): arc
decomposition must reconstruct every ring exactly, and shared
boundaries must be stored once."""

from __future__ import annotations

import glob
import gzip

import numpy as np
import pytest

from cov_tiles_spark.covt.metadata import GeometryType
from cov_tiles_spark.covt.tae import (
    decompose_arcs,
    reconstruct_rings,
    tae_roundtrip_ok,
    tae_size,
)

OMT = sorted(glob.glob("/root/reference/parser/js/data/omt/*.mvt"))


def _two_squares_sharing_an_edge():
    # [(0,0)..(10,0)..(10,10)..(0,10)] and its right neighbor share the
    # x=10 edge (traversed in opposite directions, as adjacent rings do)
    left = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], np.int64)
    right = np.array([[10, 0], [20, 0], [20, 10], [10, 10]], np.int64)
    return [left, right]


def test_shared_edge_stored_once():
    rings = _two_squares_sharing_an_edge()
    arcs, refs, _rots = decompose_arcs(rings)
    total_arc_verts = sum(len(a) for a in arcs)
    # 8 distinct corner vertices; shared edge endpoints appear in both
    # rings but the shared chain is stored once
    assert tae_roundtrip_ok(rings)
    stats = tae_size(rings)
    assert stats["n_arcs"] >= 2
    assert stats["shared_vertex_frac"] > 0 or total_arc_verts <= 10


def test_disjoint_rings_roundtrip():
    rings = [
        np.array([[0, 0], [5, 0], [5, 5]], np.int64),
        np.array([[100, 100], [105, 100], [105, 105], [100, 105]], np.int64),
    ]
    assert tae_roundtrip_ok(rings)
    stats = tae_size(rings)
    assert stats["n_arcs"] == 2 and stats["shared_vertex_frac"] == 0.0


def test_identical_duplicate_ring_deduped():
    r = np.array([[0, 0], [7, 0], [7, 7], [0, 7]], np.int64)
    rings = [r, r.copy()]
    assert tae_roundtrip_ok(rings)
    stats = tae_size(rings)
    assert stats["n_arcs"] == 1  # the whole ring is one shared arc
    assert stats["tae_bytes"] < stats["plain_bytes"]


def test_open_linestrings_roundtrip():
    lines = [
        np.array([[0, 0], [10, 0], [20, 0]], np.int64),
        np.array([[20, 0], [10, 0], [0, 0]], np.int64),  # reverse traversal
        np.array([[5, 5], [6, 6]], np.int64),
    ]
    assert tae_roundtrip_ok(lines, closed=False)
    stats = tae_size(lines, closed=False)
    assert stats["n_arcs"] < 3  # the reversed duplicate dedupes


def test_random_rings_roundtrip():
    rng = np.random.default_rng(4)
    rings = [
        rng.integers(0, 100, (int(n), 2)).astype(np.int64)
        for n in rng.integers(3, 20, 30)
    ]
    assert tae_roundtrip_ok(rings)


@pytest.mark.skipif(not OMT, reason="reference fixtures unavailable")
def test_golden_polygon_layers_roundtrip():
    """Every polygon ring of a real golden tile reconstructs exactly."""
    from cov_tiles_spark.covt.tae import _rings_of_layer
    from cov_tiles_spark.pipeline.transcode import _layer_inputs

    raw = open(OMT[-1], "rb").read()
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    inputs, _ = _layer_inputs(raw)
    checked = 0
    for lay in inputs:
        t = np.asarray(lay.geometry.geometry_types)
        poly = (t == GeometryType.POLYGON) | (t == GeometryType.MULTI_POLYGON)
        if not bool(poly.all()) or len(t) == 0:
            continue
        rings = _rings_of_layer(lay.geometry, None)
        assert tae_roundtrip_ok(rings), lay.name
        checked += 1
    assert checked >= 1


def _poly_pair_layer():
    """Two polygons sharing a long jagged boundary (51 vertices) — the
    case TAE exists for: the shared chain is stored once."""
    from cov_tiles_spark.covt.decoder import GeometryColumn as GC
    from cov_tiles_spark.covt.encoder import LayerInput

    rng = np.random.default_rng(6)
    shared = [(int(10 + rng.integers(-3, 4)), y) for y in range(0, 102, 2)]
    left = [(0, 0)] + shared + [(0, 100)]
    right = [(20, 0), (20, 100)] + shared[::-1]
    rings = (left, right)
    vb = np.array([c for ring in rings for xy in ring for c in xy], np.int32)
    return LayerInput(
        name="adj",
        geometry=GC(
            geometry_types=np.full(2, GeometryType.POLYGON, np.uint8),
            vertex_buffer=vb,
            part_offsets=np.array([1, 1], np.int64),
            ring_offsets=np.array([len(left), len(right)], np.int64),
        ),
        ids=np.array([1, 2], np.int64),
        extent=4096,
    )


def test_tae_wire_roundtrip_exact():
    """TAE column encodes + decodes through the real gen-B wire format,
    vertex-for-vertex exact (rotations undone), and is chosen by the
    argmin on a shared-boundary layer."""
    from cov_tiles_spark.covt.genb import (
        GColumnType,
        _encode_geometry_best,
        decode_tile_genb,
        encode_tile_genb,
    )

    lay = _poly_pair_layer()
    ctype, _ = _encode_geometry_best(lay.geometry, 4096, allow_tae=True)
    assert ctype == GColumnType.TAE
    pay_tae, tj = encode_tile_genb([lay], optimize_metadata=True,
                                   geometry_encoding="best", allow_tae=True)
    pay_plain, _ = encode_tile_genb([lay], optimize_metadata=True,
                                    geometry_encoding="best")
    assert len(pay_tae) < len(pay_plain)
    dec = decode_tile_genb(pay_tae, tj)["adj"]
    g = dec.geometry
    np.testing.assert_array_equal(
        g.vertex_buffer, np.asarray(lay.geometry.vertex_buffer)
    )
    np.testing.assert_array_equal(
        g.ring_offsets, np.asarray(lay.geometry.ring_offsets)
    )
    np.testing.assert_array_equal(g.part_offsets, [1, 1])


@pytest.mark.skipif(not OMT, reason="reference fixtures unavailable")
def test_tae_golden_tile_strict_verify():
    """A real golden tile with TAE enabled STRICT-verifies (positional
    feature equality — rotations round-trip) and shrinks."""
    from cov_tiles_spark.covt.mvt import decode_mvt
    from cov_tiles_spark.pipeline.transcode import (
        mvt_to_genb,
        verify_genb_roundtrip,
    )

    raw = open(OMT[-1], "rb").read()
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    base, _, _, _ = mvt_to_genb(raw)
    pay, tj, _, _ = mvt_to_genb(raw, allow_tae=True)
    assert len(pay) < len(base)
    assert verify_genb_roundtrip(pay, tj, decode_mvt(raw))  # strict


def test_tae_wire_random_linestrings_kernel():
    """Randomized wire-level kernel check: encode/decode the TAE column
    streams directly for line layers with duplicated + reversed parts."""
    from cov_tiles_spark.covt.genb import (
        _decode_geometry_tae,
        _encode_geometry_tae,
    )
    from cov_tiles_spark.covt.decoder import GeometryColumn as GC

    rng = np.random.default_rng(12)
    for trial in range(10):
        parts = [
            rng.integers(0, 500, (int(n), 2)).astype(np.int64)
            for n in rng.integers(2, 12, 8)
        ]
        parts += [parts[0][::-1], parts[1].copy()]  # reversed + exact dup
        vb = np.concatenate([p.reshape(-1) for p in parts]).astype(np.int32)
        g = GC(
            geometry_types=np.full(
                len(parts), GeometryType.LINESTRING, np.uint8
            ),
            vertex_buffer=vb,
            part_offsets=np.array([len(p) for p in parts], np.int64),
        )
        enc = _encode_geometry_tae(g)
        assert enc is not None
        ctype, streams = enc
        buf = np.frombuffer(
            b"".join(d for *_, d in streams), dtype=np.uint8
        )
        meta = [(st, se, nv, len(d)) for st, se, nv, d in streams]
        dec, pos = _decode_geometry_tae(buf, 0, meta)
        assert pos == len(buf), trial
        np.testing.assert_array_equal(dec.vertex_buffer, vb, err_msg=str(trial))
        np.testing.assert_array_equal(
            dec.part_offsets, np.asarray(g.part_offsets)
        )
        assert dec.ring_offsets is None


try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    _ring = st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1, max_size=8,
    )

    @given(st.lists(_ring, min_size=1, max_size=8), st.booleans())
    @settings(max_examples=120, deadline=None)
    # all-equal degenerate ring: its open form starts and ends on the
    # same vertex, so decompose must store the synthetic closure or the
    # decoders' first==last drop rule eats a real vertex
    @example(rings_py=[[(0, 0), (0, 0)], [(0, 0), (0, 1)]], closed=True)
    def test_tae_property_roundtrip(rings_py, closed):
        """Decompose/reconstruct is exact on arbitrary tiny-grid rings —
        heavy vertex reuse, self-touching rings, duplicate points."""
        rings = [np.array(r, np.int64).reshape(-1, 2) for r in rings_py]
        assert tae_roundtrip_ok(rings, closed=closed)

    @given(st.lists(_ring.filter(lambda r: len(r) >= 2), min_size=1, max_size=6))
    @settings(max_examples=60, deadline=None)
    def test_tae_property_wire_kernel(parts_py):
        """Wire-level encode/decode equivalence on arbitrary line parts
        (covers the vectorized assemble_vertex_buffer against the
        scalar reference path semantics)."""
        from cov_tiles_spark.covt.decoder import GeometryColumn as GC
        from cov_tiles_spark.covt.genb import (
            _decode_geometry_tae,
            _encode_geometry_tae,
        )

        parts = [np.array(p, np.int64).reshape(-1, 2) for p in parts_py]
        vb = np.concatenate([p.reshape(-1) for p in parts]).astype(np.int32)
        g = GC(
            geometry_types=np.full(len(parts), GeometryType.LINESTRING, np.uint8),
            vertex_buffer=vb,
            part_offsets=np.array([len(p) for p in parts], np.int64),
        )
        enc = _encode_geometry_tae(g)
        assert enc is not None
        _, streams = enc
        buf = np.frombuffer(b"".join(d for *_, d in streams), dtype=np.uint8)
        meta = [(s, e, nv, len(d)) for s, e, nv, d in streams]
        dec, pos = _decode_geometry_tae(buf, 0, meta)
        assert pos == len(buf)
        np.testing.assert_array_equal(dec.vertex_buffer, vb)
except ImportError:  # hypothesis is expected in this sandbox, but gate anyway
    pass
