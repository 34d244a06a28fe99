"""Distributed MVT → COVT tile transcoding — the reference's main program
(`CovtConverterTest.runOmtTest` / `BingCovtDemo`, SURVEY.md §3.1/§3.3)
re-expressed as a Spark job:

    spark.read.format("binaryFile").load("*.mvt")      # S2 scan
      -> map_rows(decode MVT, shred, encode COVT)      # §3.1 steps 1-2
      -> (path, z, x, y, covt payload, sizes, verified)

Each input tile is independent, so the job is embarrassingly parallel: one
per-file kernel under `rows.map_rows`. ``binaryFile`` gives
Catalyst-managed file splitting and predicate pushdown on (path, length).
Every layer is encoded in its source feature order, as the reference's
converter does. Per-tile verification (decode our COVT, gen-A and gen-B,
and compare feature-for-feature, in order, with the MVT decode — the
reference's round-trip oracle, `BingCovtDemo.java:194-222`) runs inline
and is reported as two boolean columns, so a 100 TB transcode is
self-auditing.

The way back is :func:`covt_to_mvt`, which exports a gen-A tile (the
stored payload format) to MVT.
"""

from __future__ import annotations

import gzip as _gzip
import os
import re
import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from cov_tiles_spark.covt.decoder import GeometryColumn, decode_covt
from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput, encode_tile
from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType
from cov_tiles_spark.covt.mvt import MvtLayer, decode_mvt, encode_mvt
from cov_tiles_spark.rows import map_rows

TRANSCODE_SCHEMA = (
    "path string, z int, x int, y int, mvt_bytes long, covt_bytes long, "
    "genb_bytes long, gzip_mvt_bytes long, gzip_covt_bytes long, "
    "n_layers int, n_features long, verified boolean, "
    "genb_verified boolean, payload binary"
)

_COLUMNS = [c.split()[0] for c in TRANSCODE_SCHEMA.split(", ")]
_ZXY_RE = re.compile(r"(\d+)[_\-/](\d+)[_\-/](\d+)\.(mvt|pbf)$")


def _geometry_from_mvt(features) -> GeometryColumn:
    """Shred MVT feature geometries into the COVT SoA model (P2)."""
    types = []
    geometry_offsets = []
    part_offsets = []
    ring_offsets = []
    verts: list[np.ndarray] = []
    for f in features:
        parts = f.geometry
        if f.geom_type == 1:  # point(s)
            if len(parts) == 1 and len(parts[0]) == 1:
                types.append(GeometryType.POINT)
                verts.append(np.asarray(parts[0], dtype=np.int64))
            else:  # multipoint: one 1-pt line per point (loadGeometry form)
                types.append(GeometryType.MULTI_POINT)
                geometry_offsets.append(sum(len(p) for p in parts))
                for p in parts:
                    verts.append(np.asarray(p, dtype=np.int64))
        elif f.geom_type == 2:
            if len(parts) == 1:
                types.append(GeometryType.LINESTRING)
                part_offsets.append(len(parts[0]))
                verts.append(np.asarray(parts[0], dtype=np.int64))
            else:
                types.append(GeometryType.MULTI_LINESTRING)
                geometry_offsets.append(len(parts))
                for p in parts:
                    part_offsets.append(len(p))
                    verts.append(np.asarray(p, dtype=np.int64))
        else:  # polygon: rings arrive closed; store open (reference rule)
            open_rings = [p[:-1] if len(p) > 1 and p[0] == p[-1] else p for p in parts]
            types.append(GeometryType.POLYGON)
            part_offsets.append(len(open_rings))
            for r in open_rings:
                ring_offsets.append(len(r))
                verts.append(np.asarray(r, dtype=np.int64))
    vb = (
        np.concatenate(verts).astype(np.int32).ravel()
        if verts
        else np.empty(0, np.int32)
    )
    return GeometryColumn(
        geometry_types=np.asarray(types, np.uint8),
        vertex_buffer=vb,
        geometry_offsets=np.asarray(geometry_offsets, np.int64) if geometry_offsets else None,
        part_offsets=np.asarray(part_offsets, np.int64) if part_offsets else None,
        ring_offsets=np.asarray(ring_offsets, np.int64) if ring_offsets else None,
    )


def _properties_from_mvt(
    features,
) -> tuple[dict[str, PropertyInput], dict[str, dict[str, PropertyInput]]]:
    """Dynamic schema inference from property maps, typed from the first
    seen value (CovtConverter.java:485-547). String keys of the form
    ``base:locale`` are grouped with their base into a localized-
    dictionary column (README.md:153-157) — returns (plain, localized)."""
    n = len(features)
    keys: dict[str, type] = {}
    for f in features:
        for k, v in f.properties.items():
            if k not in keys and v is not None:
                keys[k] = type(v)

    # localized groups: every ':'-suffixed string key whose base exists
    # as a string key (or has >= 2 locales) shares one dictionary
    loc_bases: dict[str, list[str]] = {}
    for k, t in keys.items():
        if ":" in k and t is str:
            loc_bases.setdefault(k.split(":", 1)[0], []).append(k)
    localized_names: set[str] = set()
    localized: dict[str, dict[str, PropertyInput]] = {}
    for base, members in loc_bases.items():
        group_keys = list(members)
        if base in keys and keys[base] is str:
            group_keys.insert(0, base)
        if len(group_keys) < 2:
            continue
        localized[base] = {}
        localized_names.update(group_keys)
        for k in group_keys:
            present = np.zeros(n, dtype=bool)
            vals = []
            for i, f in enumerate(features):
                v = f.properties.get(k)
                if v is None:
                    continue
                present[i] = True
                vals.append(str(v))
            localized[base][k] = PropertyInput(
                ColumnDataType.STRING, np.asarray(vals, object), present
            )

    props: dict[str, PropertyInput] = {}
    for k, t in keys.items():
        if k in localized_names:
            continue
        present = np.zeros(n, dtype=bool)
        vals = []
        for i, f in enumerate(features):
            v = f.properties.get(k)
            if v is None:
                continue
            present[i] = True
            vals.append(v)
        if t is bool:
            dense = np.zeros(n, dtype=bool)
            dense[present] = np.asarray(vals, dtype=bool)
            props[k] = PropertyInput(ColumnDataType.BOOLEAN, dense, present)
        elif t is int:
            props[k] = PropertyInput(
                ColumnDataType.INT_64, np.asarray(vals, dtype=np.int64), present
            )
        elif t is float:
            props[k] = PropertyInput(
                ColumnDataType.FLOAT, np.asarray(vals, dtype=np.float32), present
            )
        else:
            props[k] = PropertyInput(
                ColumnDataType.STRING, np.asarray([str(v) for v in vals], object), present
            )
    return props, localized


def _layer_inputs(layers: list[MvtLayer]) -> tuple[list[LayerInput], int]:
    """Decoded MVT layers -> (LayerInput list, n_features), empty layers
    dropped."""
    inputs = []
    n_features = 0
    for lay in layers:
        if not lay.features:
            continue
        ids = (
            np.asarray([f.id for f in lay.features], dtype=np.int64)
            if all(f.id is not None for f in lay.features)
            else None
        )
        props, localized = _properties_from_mvt(lay.features)
        inputs.append(
            LayerInput(
                name=lay.name,
                geometry=_geometry_from_mvt(lay.features),
                ids=ids,
                properties=props,
                localized=localized or None,
                extent=lay.extent,
            )
        )
        n_features += len(lay.features)
    return inputs, n_features


def mvt_to_genb(mvt_bytes: bytes) -> tuple[bytes, dict, int, int]:
    """One tile: MVT bytes -> (gen-B COVT bytes, TileJSON dict, n_layers,
    n_features), each layer in its source feature order. ``name:*``
    groups use the format-reserved LOCALIZED_DICTIONARY column type
    (shared dictionary across locales — our documented extension; the
    reference converter throws on it, CovtConverter.java:358-360). Each
    stream takes FAST_PFOR (in `covt/pfor.py`'s container) or its
    RLE/varint alternative by size."""
    inputs, n_features = _layer_inputs(decode_mvt(mvt_bytes))
    payload, tilejson = _encode_genb(inputs)
    return payload, tilejson, len(inputs), n_features


def _encode_genb(inputs: list[LayerInput]) -> tuple[bytes, dict]:
    from cov_tiles_spark.covt.genb import encode_tile_genb

    return encode_tile_genb(
        inputs, optimize_metadata=True, geometry_encoding="best"
    )


def verify_genb_roundtrip(
    payload: bytes, tilejson: dict, mvt_layers: list[MvtLayer]
) -> bool:
    """Gen-B round-trip oracle: decode our gen-B tile and compare
    feature-for-feature with the MVT decode (same rule as
    ``verify_roundtrip``)."""
    from cov_tiles_spark.covt.genb import decode_tile_genb

    try:
        decoded = decode_tile_genb(payload, tilejson)
    except Exception:
        return False
    return _features_match(decoded, mvt_layers)


def verify_roundtrip(covt_bytes: bytes, mvt_layers: list[MvtLayer]) -> bool:
    """Reference round-trip oracle: our decode of our COVT must reproduce
    the MVT decode feature-for-feature (geometry exact, properties equal
    for non-null values)."""
    try:
        decoded = decode_covt(covt_bytes)
    except Exception:
        return False
    return _features_match(decoded, mvt_layers)


def covt_to_mvt(covt_bytes: bytes) -> bytes:
    """Reverse transcode: a gen-A COVT tile -> MVT bytes, completing the
    interop matrix (the reference ships only MVT->COVT,
    `CovtConverter.java:61-140`; a user leaving the format needs the way
    back).

    Geometry follows loadGeometry semantics both ways (closed polygon
    rings re-emit ClosePath; multipoints one MoveTo per point), so
    ``decode_mvt(covt_to_mvt(t)) == decode-features(t)`` exactly; MVT
    byte layout may differ from any original tile (command grouping is
    not round-trip-preserved). Every layer gets extent 4096 (gen-A
    tiles do not store extent).
    """
    decoded = decode_covt(covt_bytes)

    # OGC type (geometry.ts:1-8; multi-types collapse to their base: MVT
    # carries multiplicity in the command stream, not the type byte)
    to_mvt_type = {0: 1, 1: 2, 2: 3, 3: 1, 4: 2, 5: 3}
    layers = []
    for name, lay in decoded.items():
        feats = [
            {
                "id": f.get("id"),
                "geom_type": to_mvt_type[int(f["geometry_type"])],
                "parts": f["geometry"],
                "properties": {
                    k: v for k, v in f["properties"].items() if v is not None
                },
            }
            for f in lay.features()
        ]
        layers.append((name, feats, 4096))
    return encode_mvt(layers)


def _features_match(decoded, mvt_layers: list[MvtLayer]) -> bool:
    mvt_map = {l.name: l for l in mvt_layers if l.features}
    if set(decoded) != set(mvt_map):
        return False
    for name, lay in decoded.items():
        feats = lay.features()
        src = mvt_map[name].features
        if len(feats) != len(src):
            return False
        for a, b in zip(feats, src):
            if a["geometry"] != b.geometry:
                return False
            for k, v in b.properties.items():
                if v is None:
                    continue
                got = a["properties"].get(k)
                if isinstance(v, float):
                    if got is None or abs(float(got) - v) > 1e-6 * max(1.0, abs(v)):
                        return False
                elif got != v:
                    return False
    return True


def _transcode_tile(path: str, content: bytes) -> list[tuple]:
    """One source file -> its TRANSCODE_SCHEMA row (``map_rows`` kernel):
    one MVT decode, gen-A and gen-B encoded from the same layer inputs,
    each verified against that decode. A file that does not decode
    (corrupt MVT or gzip) yields its row unverified, with no payload or
    encoded sizes, so one bad file never fails the job."""
    raw = bytes(content)
    m = _ZXY_RE.search(path)
    z, x, y = (int(m.group(i)) for i in (1, 2, 3)) if m else (-1, -1, -1)
    try:
        if raw[:2] == b"\x1f\x8b":  # gzip source (S3)
            raw = _gzip.decompress(raw)
        mvt_layers = decode_mvt(raw)
    except (ValueError, EOFError, OSError, zlib.error):
        return [(
            os.path.basename(path), z, x, y, len(raw), None, None,
            len(_gzip.compress(raw, 6)), None, None, None, False, False, None,
        )]
    inputs, n_features = _layer_inputs(mvt_layers)
    covt = encode_tile(inputs)
    genb, tilejson = _encode_genb(inputs)
    return [(
        os.path.basename(path), z, x, y,
        len(raw), len(covt), len(genb),
        len(_gzip.compress(raw, 6)), len(_gzip.compress(covt, 6)),
        len(inputs), n_features,
        verify_roundtrip(covt, mvt_layers),
        verify_genb_roundtrip(genb, tilejson, mvt_layers),
        covt,
    )]


def transcode_mvt_directory(spark: SparkSession, glob_path: str) -> DataFrame:
    """Transcode every .mvt/.pbf under ``glob_path`` to COVT, verified."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{mvt,pbf}")
        .load(glob_path)
    )
    return map_rows(
        files, TRANSCODE_SCHEMA, ("path", "content"), _COLUMNS, _transcode_tile
    )
