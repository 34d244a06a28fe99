"""Distributed MVT→COVT transcoding — the reference's main program as a
Spark job (SURVEY §3.1/§3.3) — over self-built tiles and the reference's
own golden .mvt tiles."""

from __future__ import annotations

import gzip

import numpy as np
import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.covt.mvt import encode_mvt
from cov_tiles_spark.pipeline.transcode import transcode_mvt_directory


def _self_built_tile(seed: int) -> bytes:
    """Three layers: points and a multipoint, lines and a multiline, and
    polygons (one with a hole) without ids; string and int properties,
    some absent or negative."""
    rng = np.random.default_rng(seed)

    def pt():
        return tuple(int(v) for v in rng.integers(0, 4096, 2))

    pois = [
        {"id": i, "geom_type": 1, "parts": [[pt()]],
         "properties": {"class": ("cafe", "shop")[i % 2], "rank": i - 3}}
        for i in range(7)
    ] + [{"id": 7, "geom_type": 1, "parts": [[pt()], [pt()], [pt()]],
          "properties": {"class": "kiosk"}}]
    roads = [
        {"id": 100 + i, "geom_type": 2,
         "parts": [[pt() for _ in range(int(rng.integers(2, 6)))]],
         "properties": {"class": ("minor", "primary")[i % 2], "lanes": i % 3 + 1}}
        for i in range(5)
    ] + [{"id": 105, "geom_type": 2, "parts": [[pt(), pt()], [pt(), pt(), pt()]],
          "properties": {"lanes": 4}}]
    water = [
        {"id": None, "geom_type": 3,
         "parts": [[(0, 0), (400, 0), (400, 400), (0, 400), (0, 0)],
                   [(100, 100), (100, 300), (300, 300), (300, 100), (100, 100)]],
         "properties": {"kind": "lake", "depth": int(rng.integers(1, 50))}},
        {"id": None, "geom_type": 3,
         "parts": [[(1000, 1000), (1600, 1000), (1300, 1500), (1000, 1000)]],
         "properties": {"kind": "pond"}},
    ]
    return encode_mvt(
        [("pois", pois, 4096), ("roads", roads, 4096), ("water", water, 4096)]
    )


def test_transcode_self_built_tiles_verify_in_both_formats(spark, tmp_path):
    """One row per file, z/x/y parsed from the name (``_`` or ``-``,
    ``.mvt`` or ``.pbf``), a gzip-wrapped source read through, and every
    tile verified feature by feature in gen-A and in gen-B."""
    tiles = {
        "2_1_3.mvt": (2, 1, 3, _self_built_tile(1)),
        "4-5-6.pbf": (4, 5, 6, _self_built_tile(2)),
        "6_10_20.mvt": (6, 10, 20, _self_built_tile(3)),
    }
    for name, (_, _, _, mvt) in tiles.items():
        data = gzip.compress(mvt) if name.startswith("6_") else mvt
        (tmp_path / name).write_bytes(data)
    (tmp_path / "notes.txt").write_text("not a tile")

    from cov_tiles_spark.pipeline.transcode import mvt_to_genb

    rows = transcode_mvt_directory(spark, str(tmp_path)).collect()
    assert sorted(r.path for r in rows) == sorted(tiles)
    for r in rows:
        z, x, y, mvt = tiles[r.path]
        assert (r.z, r.x, r.y) == (z, x, y)
        assert r.verified and r.genb_verified, r.path
        assert r.mvt_bytes == len(mvt)
        assert r.n_layers == 3 and r.n_features == 16
        assert r.covt_bytes == len(r.payload) > 0
        # gen-B comes from the job's one decode, as from the tile bytes
        assert r.genb_bytes == len(mvt_to_genb(mvt)[0])


def test_transcode_corrupt_file_yields_unverified_row(spark, tmp_path):
    """One corrupt source file does not fail the job: every file gets
    its row, and the corrupt one is unverified in both formats with no
    payload."""
    (tmp_path / "2_1_3.mvt").write_bytes(_self_built_tile(1))
    (tmp_path / "2_1_4.mvt").write_bytes(_self_built_tile(2))
    (tmp_path / "2_2_3.mvt").write_bytes(b"\x1a\x05\xff")  # truncated layer
    rows = {r.path: r for r in transcode_mvt_directory(spark, str(tmp_path)).collect()}
    assert sorted(rows) == ["2_1_3.mvt", "2_1_4.mvt", "2_2_3.mvt"]
    bad = rows.pop("2_2_3.mvt")
    assert (bad.z, bad.x, bad.y, bad.mvt_bytes) == (2, 2, 3, 3)
    assert bad.verified is False and bad.genb_verified is False
    assert bad.payload is None and bad.covt_bytes is None
    assert all(r.verified and r.genb_verified and r.payload for r in rows.values())


def test_verification_rejects_another_tiles_features():
    """The ``verified`` columns are not vacuous: a payload checked
    against another tile's MVT decode fails in both formats."""
    from cov_tiles_spark.covt.mvt import decode_mvt
    from cov_tiles_spark.pipeline.transcode import (
        _transcode_tile,
        mvt_to_genb,
        verify_genb_roundtrip,
        verify_roundtrip,
    )

    a, b = _self_built_tile(1), _self_built_tile(2)
    (row,) = _transcode_tile("2_1_3.mvt", a)
    covt = row[-1]
    genb, tilejson, _, _ = mvt_to_genb(a)
    assert verify_roundtrip(covt, decode_mvt(a))
    assert verify_genb_roundtrip(genb, tilejson, decode_mvt(a))
    assert not verify_roundtrip(covt, decode_mvt(b))
    assert not verify_genb_roundtrip(genb, tilejson, decode_mvt(b))


def test_transcode_reference_omt_tiles(spark):
    result = transcode_mvt_directory(
        spark, "/root/reference/parser/js/data/omt"
    ).cache()
    rows = result.collect()
    assert len(rows) == 7  # z2..z8 OMT tiles
    for r in rows:
        assert r.verified, f"{r.path}: round-trip verification failed"
        assert r.z >= 2 and r.n_features > 0
        assert r.covt_bytes > 0

    # compression parity with the reference's own measurements
    # (README.md:21-35 reports 29-74% reduction vs uncompressed MVT; we
    # lack FastPFOR + localized dictionaries, so expect >= 20% average)
    agg = result.agg(
        (1 - F.sum("covt_bytes") / F.sum("mvt_bytes")).alias("reduction")
    ).collect()[0]
    assert agg.reduction >= 0.20, f"aggregate reduction only {agg.reduction:.2%}"


def test_transcode_bing_tiles(spark):
    result = transcode_mvt_directory(
        spark, "/root/reference/parser/js/data/bing"
    )
    rows = result.collect()
    assert len(rows) == 7
    assert all(r.verified for r in rows)


def test_mvt_point_layer_size_matches_writer():
    """mvt_point_layer_size must equal len(encode_mvt(...)) byte-for-byte:
    the flagship pipeline reports this as the honest MVT-baseline size
    without materializing the bytes. Covers cross-column value-table
    collisions (w == h), negative ints (sint zigzag values), multi-byte
    value indices (> 127 table entries), the no-id/no-props edge, and the
    shapes the tile write path sends: 1-5 features, all-unique captions,
    '' and non-ASCII captions, ids >= 2^56, and more than 256 features
    with low- and high-cardinality strings (both dictionary-coder
    branches)."""
    import numpy as np

    from cov_tiles_spark.covt.mvt import encode_mvt, mvt_point_layer_size

    def check(ids, xs, ys, props, name="images", extent=4096):
        feats = [
            {
                "id": None if ids is None else int(ids[i]),
                "geom_type": 1,
                "parts": [[(int(xs[i]), int(ys[i]))]],
                "properties": {
                    k: (v[i] if v.dtype == object else int(v[i]))
                    for k, v in props.items()
                },
            }
            for i in range(len(xs))
        ]
        real = len(encode_mvt([(name, feats, extent)]))
        fast = mvt_point_layer_size(name, ids, xs, ys, props, extent)
        assert real == fast, (len(xs), real, fast)

    rng = np.random.default_rng(2)

    def tile_props(n, caption):
        return {
            "caption": caption,
            "fmt": np.array(
                ["raw" if v else "rle" for v in rng.integers(0, 2, n)], dtype=object
            ),
            "w": rng.integers(16, 64, n),
            "h": rng.integers(16, 64, n),
            "phash": rng.integers(-(2**40), 2**40, n),
        }

    def coords(n):
        return rng.integers(-2048, 6144, n), rng.integers(-2048, 6144, n)

    for trial in range(25):
        n = int(rng.integers(1, 500))
        ids = np.sort(rng.integers(0, 10**9, n))
        xs, ys = coords(n)
        caption = np.array(
            [f"c{int(v)}" for v in rng.integers(0, 200, n)], dtype=object
        )
        check(ids, xs, ys, tile_props(n, caption))

    odd = ["", "é", "東京", "naïve café", "🗺", "raw"]
    for n in (1, 2, 3, 4, 5, 40, 300, 1000):
        ids = np.sort(rng.integers(2**56, 2**63 - 1, n))
        unique = np.array([f"{odd[i % 6]} {i}" for i in range(n)], dtype=object)
        check(ids, *coords(n), tile_props(n, unique))
        few = np.array([odd[v] for v in rng.integers(0, 6, n)], dtype=object)
        check(ids, *coords(n), tile_props(n, few))

    for _ in range(5):
        n = int(rng.integers(1, 50))
        xs = rng.integers(0, 4096, n)
        ys = rng.integers(0, 4096, n)
        check(None, xs, ys, {}, name="p", extent=8192)


def test_covt_to_mvt_roundtrip_both_formats():
    """Reverse transcode: MVT -> gen-A -> MVT must reproduce the original
    decode exactly (id, geometry type, geometry, properties) on every
    reference golden tile. MVT byte layout is not preserved (command
    grouping differs); decoded features are. Gen-B is checked against
    the MVT decode by ``verify_genb_roundtrip`` instead: the export
    reads gen-A only."""
    import glob

    from cov_tiles_spark.covt.mvt import decode_mvt
    from cov_tiles_spark.pipeline.transcode import _transcode_tile, covt_to_mvt

    paths = sorted(
        glob.glob("/root/reference/parser/js/data/*/*.mvt")
        + glob.glob("/root/reference/parser/js/data/*/*.pbf")
    )
    assert len(paths) == 15  # 7 omt + 7 bing + 1 amazon
    for p in paths:
        mvt = open(p, "rb").read()
        orig = {l.name: l for l in decode_mvt(mvt) if l.features}
        covt = _transcode_tile(p, mvt)[0][-1]
        back = {l.name: l for l in decode_mvt(covt_to_mvt(covt)) if l.features}
        assert set(orig) == set(back), p
        for n in orig:
            assert len(orig[n].features) == len(back[n].features), (p, n)
            for fa, fb in zip(orig[n].features, back[n].features):
                assert fa.geometry == fb.geometry, (p, n)
                assert fa.geom_type == fb.geom_type, (p, n)
                assert fa.id == fb.id, (p, n)
                pa = {k: v for k, v in fa.properties.items() if v is not None}
                pb = {k: v for k, v in fb.properties.items() if v is not None}
                assert pa == pb, (p, n)


def test_covt_to_mvt_exports_self_built_lines_and_polygons():
    """``test_genb.py``'s line layer and polygon-with-hole layer, given
    properties, encoded as gen-A and exported to MVT: the MVT decode
    equals the source ids, geometry and properties."""
    from test_genb import _line_layer, _poly_layer

    from cov_tiles_spark.covt.encoder import PropertyInput, encode_tile
    from cov_tiles_spark.covt.metadata import ColumnDataType
    from cov_tiles_spark.covt.mvt import decode_mvt
    from cov_tiles_spark.pipeline.transcode import covt_to_mvt

    roads, boundaries = _line_layer(), _poly_layer()
    classes = np.array(["minor", "primary"] * 20, dtype=object)
    lanes = np.arange(40, dtype=np.int64) % 4 + 1
    roads.properties = {
        "class": PropertyInput(ColumnDataType.STRING, classes),
        "lanes": PropertyInput(ColumnDataType.INT_64, lanes),
    }
    boundaries.properties = {
        "kind": PropertyInput(
            ColumnDataType.STRING, np.array(["park", "lake"], dtype=object)
        )
    }
    lines = np.asarray(roads.geometry.vertex_buffer).reshape(40, 20, 2)
    want = {
        "roads": [
            (2, i, [[tuple(v) for v in lines[i].tolist()]],
             {"class": classes[i], "lanes": int(lanes[i])})
            for i in range(40)
        ],
        "boundaries": [
            (3, None,
             [[(0, 0), (100, 0), (100, 100), (0, 100), (0, 0)],
              [(40, 40), (60, 40), (60, 60), (40, 60), (40, 40)]],
             {"kind": "park"}),
            (3, None,
             [[(200, 200), (300, 200), (250, 300), (200, 200)],
              [(400, 400), (500, 400), (450, 500), (400, 400)]],
             {"kind": "lake"}),
        ],
    }
    got = {
        lay.name: [
            (f.geom_type, f.id, f.geometry, f.properties) for f in lay.features
        ]
        for lay in decode_mvt(covt_to_mvt(encode_tile([roads, boundaries])))
    }
    assert got == want


def test_covt_to_mvt_exports_reference_snapshot():
    """Export the reference's own committed gen-A tiles back to MVT:
    geometry must match the paired golden MVT exactly; properties match
    up to the reference encoder's documented fixture artifacts
    (`name:xx` renamed `name_xx`, some columns dropped — see
    tests/test_fixture_conformance.py)."""
    import glob

    from cov_tiles_spark.covt.mvt import decode_mvt
    from cov_tiles_spark.pipeline.transcode import covt_to_mvt

    paths = sorted(glob.glob("/root/reference/parser/js/data/omt/*.covt"))
    if not paths:
        pytest.skip("reference snapshot absent")
    for p in paths:
        mvt_map = {
            l.name: l
            for l in decode_mvt(open(p[:-5] + ".mvt", "rb").read())
            if l.features
        }
        out = {
            l.name: l
            for l in decode_mvt(covt_to_mvt(open(p, "rb").read()))
            if l.features
        }
        assert set(mvt_map) == set(out), p
        for n in mvt_map:
            assert len(mvt_map[n].features) == len(out[n].features), (p, n)
            # the reference encoder re-sorts some layers by feature id
            # (CovtConverter.java:556-558) — align by id where present
            a_feats = mvt_map[n].features
            b_feats = out[n].features
            if all(f.id is not None for f in a_feats):
                key = lambda f: (f.id, f.geometry)  # noqa: E731
                a_feats = sorted(a_feats, key=key)
                b_feats = sorted(b_feats, key=key)
            for fa, fb in zip(a_feats, b_feats):
                assert fa.geometry == fb.geometry, (p, n)
                # properties: compare on the intersection after the
                # fixture encoder's name:xx <-> name_xx rename
                pb = {
                    k.replace("name:", "name_"): v
                    for k, v in fb.properties.items()
                    if v is not None
                }
                for k, v in fa.properties.items():
                    key = k.replace("name:", "name_")
                    if v is None or key not in pb:
                        continue
                    if isinstance(v, float):
                        assert abs(float(pb[key]) - v) <= 1e-6 * max(1.0, abs(v))
                    else:
                        assert pb[key] == v, (p, n, k)
