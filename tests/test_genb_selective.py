"""Selective (projected) gen-B decode: column-level pruning pushed INTO
the tile payload.

Every stream's byte length is in the column metadata, so the decoder can
jump unselected data instead of parsing it — the lazy-parse scan shape
the reference's parser roadmap targets. These tests pin the skip
arithmetic against the full decode on real reference tiles (any drift in
a stream's recorded byte length desyncs the cursor and fails loudly).
"""

from __future__ import annotations

import glob

import numpy as np

from cov_tiles_spark.covt.genb import decode_tile_genb, encode_tile_genb

OMT = sorted(glob.glob("/root/reference/parser/js/data/omt/*.mvt"))


def _props_equal(a, b) -> bool:
    if (a.dictionary is None) != (b.dictionary is None):
        return False
    if a.dictionary is not None and list(a.dictionary) != list(b.dictionary):
        return False
    if (a.present is None) != (b.present is None):
        return False
    if a.present is not None and not np.array_equal(a.present, b.present):
        return False
    return np.array_equal(np.asarray(a.data), np.asarray(b.data))


def _encode_omt_tiles() -> list[tuple[bytes, dict]]:
    """(gen-B payload, its TileJSON sidecar) per reference OMT tile."""
    from cov_tiles_spark.pipeline.transcode import mvt_to_genb

    return [mvt_to_genb(open(p, "rb").read())[:2] for p in OMT]


def _three_layer_tile() -> tuple[bytes, dict]:
    """The points, lines and polygons tile of ``test_genb.py``."""
    from test_genb import _line_layer, _mixed_layer, _poly_layer

    return encode_tile_genb([_mixed_layer(), _line_layer(), _poly_layer()])


def _assert_column_pruned_decode_matches_full(payload, tj) -> int:
    """Decode geometry alone, then each property alone, and compare
    with the full decode; returns the number of properties checked."""
    full = decode_tile_genb(payload, tj)
    # geometry-only read: no ids, no properties decoded
    geo_tile = decode_tile_genb(payload, tj, columns={"geometry"})
    checked_props = 0
    for lname, flay in full.items():
        geo = geo_tile[lname]
        assert np.array_equal(
            np.asarray(geo.geometry.vertex_buffer),
            np.asarray(flay.geometry.vertex_buffer),
        )
        assert geo.ids is None and geo.properties == {}
        # column metadata stays complete even under pruning
        assert [c.name for c in geo.metadata.columns] == [
            c.name for c in flay.metadata.columns
        ]
        # single-property read (no geometry): exact per column
        for pname, pc in flay.properties.items():
            one = decode_tile_genb(payload, tj, columns={pname})[lname]
            assert one.geometry is None
            assert set(one.properties) == {pname}
            assert _props_equal(one.properties[pname], pc), (lname, pname)
            checked_props += 1
    return checked_props


def test_column_pruned_decode_matches_full_on_self_built_tile():
    """A single-property read skips the other properties' streams
    (implicit present streams included) and every layer's id and
    geometry streams, so each skip must land the cursor exactly."""
    assert _assert_column_pruned_decode_matches_full(*_three_layer_tile()) > 0


def test_column_pruned_decode_matches_full_on_reference_tiles():
    checked_props = sum(
        _assert_column_pruned_decode_matches_full(payload, tj)
        for payload, tj in _encode_omt_tiles()
    )
    assert checked_props > 50  # omt tiles are property-rich


def test_localized_follower_forces_leader_dictionary():
    """Selecting only a shared-dictionary FOLLOWER must still decode its
    group leader's dictionary stream (and only emit the follower)."""
    found = 0
    for payload, tj in _encode_omt_tiles():
        full = decode_tile_genb(payload, tj)
        for lname, flay in full.items():
            followers = [
                p
                for p, pc in flay.properties.items()
                if ":" in p and pc.dictionary is not None
            ]
            for pname in followers[:3]:
                one = decode_tile_genb(payload, tj, columns={pname})[lname]
                assert set(one.properties) == {pname}
                assert _props_equal(one.properties[pname], flay.properties[pname])
                found += 1
    assert found > 0  # omt place layers carry name:* locale groups


def test_selective_decode_under_pfor_and_id_selection():
    from cov_tiles_spark.pipeline.transcode import mvt_to_genb

    mvt = open(OMT[-1], "rb").read()
    payload, tj, _nl, _nf = mvt_to_genb(mvt)
    full = decode_tile_genb(payload, tj)
    for lname, flay in full.items():
        ids_only = decode_tile_genb(payload, tj, columns={"id"})[lname]
        if flay.ids is None:
            assert ids_only.ids is None
        else:
            assert np.array_equal(ids_only.ids, flay.ids)
        assert ids_only.geometry is None and ids_only.properties == {}
