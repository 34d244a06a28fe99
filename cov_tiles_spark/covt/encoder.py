"""COVT (gen-A) tile encoder — numpy-vectorized, cost-based encoding argmin.

From-scratch re-expression of the reference converter's semantics
(`/root/reference/evaluation/java/src/main/java/com/covt/converter/
CovtConverter.java`), emitting the *gen-A* wire format that our decoder and
the reference TS decoder understand (self-describing stream names,
`covtDecoder.ts:97-146`):

- per-stream **best-of-N encoding selection** by byte size, mirroring the
  reference's brute-force argmin (id 2-way `CovtConverter.java:561-568`,
  vertex buffer plain-vs-ICE `:126-136`, int properties `:1095-1109`),
- ICE (Indexed Coordinate Encoding): per-tile vertex dictionary sorted by
  Hilbert/Morton SFC index (`:858-870`), geometries store dictionary
  indices (`:950-956`),
- polygon rings stored open, offsets are counts (`:727-733`),
- string dictionary in first-occurrence order (`:1294-1324`),
- boolean data bitset dense over all features (`:1060-1074`),
- present streams for all property columns (`README.md:143-145`).

Per-tile arrays are bounded by the tile pipeline's per-tile feature cap
(pipeline/materialize.py), so no kernel sees unbounded input. Most tiles
hold a few features, so small inputs take Python-level paths where numpy
or pandas per-call setup would dominate (:func:`first_occurrence_codes`,
the RLE and varint writers).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from cov_tiles_spark.covt.bitset import pack_bitset
from cov_tiles_spark.covt.decoder import GeometryColumn, vertex_segment_lengths
from cov_tiles_spark.covt.metadata import (
    DATA_STREAM,
    DICTIONARY_STREAM,
    GEOMETRY_COLUMN,
    GEOMETRY_OFFSETS_STREAM,
    GEOMETRY_TYPES_STREAM,
    ID_COLUMN,
    LENGTH_STREAM,
    PART_OFFSETS_STREAM,
    PRESENT_STREAM,
    RING_OFFSETS_STREAM,
    VERTEX_BUFFER_STREAM,
    VERTEX_OFFSETS_STREAM,
    ColumnDataType,
    ColumnEncoding,
    GeometryType,
)
from cov_tiles_spark.covt.rle import encode_byte_rle, encode_int_rle
from cov_tiles_spark.covt.sfc import hilbert_encode, morton_encode
from cov_tiles_spark.covt.varint import (
    encode_varint,
    encode_varints,
    encode_zigzag_varints,
    zigzag_encode,
)

VERSION = 1


@dataclass
class PropertyInput:
    """One property column to encode.

    ``values``: numpy array (object for strings, bool/int64/float32
    otherwise); ``present``: boolean mask (None => all present).
    """

    data_type: ColumnDataType
    values: np.ndarray
    present: np.ndarray | None = None


def first_occurrence_codes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Dictionary-code ``values`` (object or int64 array) in
    first-appearance order, as the string dictionary requires
    (CovtConverter.java:1294-1324): returns int64 ``codes`` and the
    ``uniques`` array with ``uniques[codes] == values``.

    Same codes as ``pd.factorize(values, use_na_sentinel=False)``; a
    None unique comes back as None up to 256 values and as NaN above, as
    pandas returns it. Up to 256 values a Python dict walk is used:
    pandas pays tens of µs of setup per call, which dominated the
    few-feature tiles of the write path. Above that its C hash table
    wins, most on high-cardinality columns.
    """
    if len(values) > 256:
        import pandas as pd

        codes, uniques = pd.factorize(values, use_na_sentinel=False)
        return codes.astype(np.int64, copy=False), np.asarray(uniques)
    seen: dict = {}
    codes = [seen.setdefault(v, len(seen)) for v in values.tolist()]
    return np.array(codes, dtype=np.int64), np.array(list(seen), dtype=values.dtype)


_STRING_CACHE: dict[str, bytes] = {}


def _write_string(s: str) -> bytes:
    cached = _STRING_CACHE.get(s)
    if cached is None:
        raw = s.encode("utf-8")
        cached = encode_varint(len(raw)) + raw
        if len(_STRING_CACHE) < 4096:  # stream/column names recur per tile
            _STRING_CACHE[s] = cached
    return cached


def _stream_meta(name: str, num_values: int, byte_length: int) -> bytes:
    return _write_string(name) + encode_varint(num_values) + encode_varint(byte_length)


def encode_id_column(ids: np.ndarray) -> tuple[ColumnEncoding, bytes]:
    """Best of {RLE, delta-zigzag varint} (CovtConverter.java:561-568;
    gen-A decoder supports exactly these two, covtDecoder.ts:148-162)."""
    v = np.asarray(ids).astype(np.int64, copy=False)
    rle = encode_int_rle(v, signed=False)
    deltas = np.diff(v, prepend=np.int64(0))
    dv = encode_varints(zigzag_encode(deltas))
    if len(rle) <= len(dv):
        return ColumnEncoding.RLE, rle
    return ColumnEncoding.DELTA_VARINT, dv


def _encode_vertices_plain(geom: GeometryColumn) -> bytes:
    """Per-segment delta restart, zigzag varints (covtDecoder.ts:238-339)."""
    seg_lengths = vertex_segment_lengths(
        geom.geometry_types, geom.geometry_offsets, geom.part_offsets, geom.ring_offsets
    )
    vb = np.asarray(geom.vertex_buffer, dtype=np.int64)
    x = vb[0::2]
    y = vb[1::2]
    starts = np.cumsum(seg_lengths) - seg_lengths
    dx = np.diff(x, prepend=np.int64(0))
    dy = np.diff(y, prepend=np.int64(0))
    # segment starts carry absolute values (delta chain resets to 0)
    dx[starts] = x[starts]
    dy[starts] = y[starts]
    inter = np.empty(vb.shape[0], dtype=np.int64)
    inter[0::2] = dx
    inter[1::2] = dy
    return encode_zigzag_varints(inter)


def _encode_vertices_ice(
    geom: GeometryColumn, extent: int, use_morton: bool
) -> tuple[bytes, bytes, int] | None:
    """ICE: SFC-sorted vertex dictionary + per-vertex index stream.

    Returns (vertex_offsets bytes, dictionary bytes, dict size) or None if
    ICE is not applicable. Dictionary order = ascending SFC id
    (CovtConverter.java:858-870); indices delta-zigzag varints
    (covtDecoder.ts:205-221); dictionary continuous delta chain (:341-364).
    """
    vb = np.asarray(geom.vertex_buffer, dtype=np.int64)
    x = vb[0::2]
    y = vb[1::2]
    half = extent // 2
    if x.size == 0 or x.min() < -half or x.max() >= half * 3 or y.min() < -half or y.max() >= half * 3:
        return None
    bits = 13 if extent == 4096 else 14
    sfc = (
        morton_encode(x, y, extent * 2)
        if use_morton
        else hilbert_encode(x, y, extent * 2, bits + 1)
    )
    uniq_sfc, first_idx, inverse = np.unique(sfc, return_index=True, return_inverse=True)
    dict_x = x[first_idx]
    dict_y = y[first_idx]
    # vertex_offsets: index into dictionary per original vertex
    offsets_bytes = encode_zigzag_varints(
        np.diff(inverse.astype(np.int64), prepend=np.int64(0))
    )
    inter = np.empty(dict_x.shape[0] * 2, dtype=np.int64)
    inter[0::2] = dict_x
    inter[1::2] = dict_y
    dict_deltas = np.diff(inter.reshape(-1, 2), axis=0, prepend=np.zeros((1, 2), np.int64))
    dict_bytes = encode_zigzag_varints(dict_deltas.ravel())
    return offsets_bytes, dict_bytes, int(dict_x.shape[0])


def encode_geometry_column(
    geom: GeometryColumn, extent: int = 4096
) -> tuple[bytes, bytes]:
    """Encode geometry column; returns (column metadata bytes, data bytes).

    Computes both plain and ICE encodings and keeps the smaller
    (CovtConverter.java:126-136). ICE only for linestring-kind layers
    (the gen-A decoder's ICE path, covtDecoder.ts:205-222, extended by our
    decoder to polygons — but plain stays the safe default for those).
    """
    types = np.asarray(geom.geometry_types, dtype=np.uint8)
    n = types.shape[0]
    gt_bytes = encode_byte_rle(types)

    topo_parts: list[tuple[str, int, bytes]] = []
    if geom.geometry_offsets is not None and len(geom.geometry_offsets):
        topo_parts.append(
            (
                GEOMETRY_OFFSETS_STREAM,
                len(geom.geometry_offsets),
                encode_int_rle(np.asarray(geom.geometry_offsets, np.int64), signed=False),
            )
        )
    if geom.part_offsets is not None and len(geom.part_offsets):
        topo_parts.append(
            (
                PART_OFFSETS_STREAM,
                len(geom.part_offsets),
                encode_int_rle(np.asarray(geom.part_offsets, np.int64), signed=False),
            )
        )
    ring_part = None
    if geom.ring_offsets is not None and len(geom.ring_offsets):
        ring_part = (
            RING_OFFSETS_STREAM,
            len(geom.ring_offsets),
            encode_int_rle(np.asarray(geom.ring_offsets, np.int64), signed=False),
        )

    n_vertices = len(geom.vertex_buffer) // 2
    plain_bytes = _encode_vertices_plain(geom)

    # ICE eligibility: line and polygon kinds (the gen-A reference decoder
    # does ICE for linestrings, covtDecoder.ts:205-222; the amazon fixture
    # proves ICE polygons exist in the wild and our decoder reads both).
    # Points stay plain: a 1-vertex chain gains nothing from a dictionary.
    ice_kinds = bool(
        np.isin(
            types,
            [
                GeometryType.LINESTRING,
                GeometryType.MULTI_LINESTRING,
                GeometryType.POLYGON,
                GeometryType.MULTI_POLYGON,
            ],
        ).all()
    )
    ice = None
    if ice_kinds and extent in (4096, 8192):
        best = None
        for use_morton in (False, True):
            cand = _encode_vertices_ice(geom, extent, use_morton)
            if cand is not None and (best is None or len(cand[0]) + len(cand[1]) < len(best[0]) + len(best[1])):
                best = cand
        if best is not None and len(best[0]) + len(best[1]) < len(plain_bytes):
            ice = best

    if ice is not None:
        offsets_bytes, dict_bytes, dict_size = ice
        encoding = ColumnEncoding.INDEXED_COORDINATE_ENCODING
        streams = [(GEOMETRY_TYPES_STREAM, n, gt_bytes), *topo_parts]
        if ring_part is not None:  # ICE polygons (amazon wire order)
            streams.append(ring_part)
        streams += [
            (VERTEX_OFFSETS_STREAM, n_vertices, offsets_bytes),
            (VERTEX_BUFFER_STREAM, dict_size, dict_bytes),
        ]
    else:
        encoding = ColumnEncoding.PLAIN
        streams = [(GEOMETRY_TYPES_STREAM, n, gt_bytes), *topo_parts]
        if ring_part is not None:
            streams.append(ring_part)
        streams.append((VERTEX_BUFFER_STREAM, n_vertices, plain_bytes))

    meta = (
        _write_string(GEOMETRY_COLUMN)
        + bytes([ColumnDataType.GEOMETRY, encoding])
        + encode_varint(len(streams))
        + b"".join(_stream_meta(nm, nv, len(b)) for nm, nv, b in streams)
    )
    data = b"".join(b for _, _, b in streams)
    return meta, data


def encode_property_column(
    name: str, prop: PropertyInput, n_features: int
) -> tuple[bytes, bytes]:
    """Encode one property column; returns (metadata bytes, data bytes)."""
    present = (
        prop.present.astype(bool)
        if prop.present is not None
        else np.ones(n_features, dtype=bool)
    )
    present_bytes = encode_byte_rle(pack_bitset(present, n_features))
    n_present = int(present.sum())

    if prop.data_type == ColumnDataType.BOOLEAN:
        dense = np.zeros(n_features, dtype=bool)
        dense[present] = np.asarray(prop.values, dtype=bool)[: n_present] if len(
            prop.values
        ) == n_present else np.asarray(prop.values, dtype=bool)[present]
        data_bytes = encode_byte_rle(pack_bitset(dense, n_features))
        streams = [
            (PRESENT_STREAM, n_features, present_bytes),
            (DATA_STREAM, n_features, data_bytes),
        ]
        encoding = ColumnEncoding.BOOLEAN_RLE
    elif prop.data_type in (ColumnDataType.INT_64, ColumnDataType.UINT_64):
        vals = np.asarray(prop.values, dtype=np.int64)
        sparse = vals if len(vals) == n_present else vals[present]
        signed = prop.data_type == ColumnDataType.INT_64
        # best of {VARINT, RLE} (CovtConverter.java:1095-1109)
        if signed:
            var_bytes = encode_varints(zigzag_encode(sparse))
        else:
            var_bytes = encode_varints(sparse.astype(np.uint64))
        rle_bytes = encode_int_rle(sparse, signed=signed)
        if len(rle_bytes) < len(var_bytes):
            encoding, data_bytes = ColumnEncoding.RLE, rle_bytes
        else:
            encoding, data_bytes = ColumnEncoding.VARINT, var_bytes
        streams = [
            (PRESENT_STREAM, n_features, present_bytes),
            (DATA_STREAM, n_present, data_bytes),
        ]
    elif prop.data_type == ColumnDataType.FLOAT:
        vals = np.asarray(prop.values, dtype=np.float32)
        sparse = vals if len(vals) == n_present else vals[present]
        data_bytes = sparse.astype("<f4").tobytes()
        encoding = ColumnEncoding.PLAIN
        streams = [
            (PRESENT_STREAM, n_features, present_bytes),
            (DATA_STREAM, n_present, data_bytes),
        ]
    elif prop.data_type == ColumnDataType.STRING:
        vals = np.asarray(prop.values, dtype=object)
        sparse = vals if len(vals) == n_present else vals[present]
        # first-occurrence dictionary (CovtConverter.java:1294-1324)
        codes, uniques = first_occurrence_codes(sparse)
        dict_raw = [s.encode("utf-8") for s in uniques]
        data_bytes = encode_int_rle(codes, signed=False)
        len_bytes = encode_int_rle(
            np.array([len(r) for r in dict_raw], dtype=np.int64), signed=False
        )
        dict_bytes = b"".join(dict_raw)
        encoding = ColumnEncoding.DICTIONARY
        streams = [
            (PRESENT_STREAM, n_features, present_bytes),
            (DATA_STREAM, n_present, data_bytes),
            (LENGTH_STREAM, len(dict_raw), len_bytes),
            (DICTIONARY_STREAM, len(dict_raw), dict_bytes),
        ]
    else:
        raise ValueError(f"unsupported property type {prop.data_type}")

    meta = (
        _write_string(name)
        + bytes([prop.data_type, encoding])
        + encode_varint(len(streams))
        + b"".join(_stream_meta(nm, nv, len(b)) for nm, nv, b in streams)
    )
    data = b"".join(b for _, _, b in streams)
    return meta, data


@dataclass
class LayerInput:
    name: str
    geometry: GeometryColumn
    ids: np.ndarray | None = None
    properties: dict[str, PropertyInput] | None = None
    extent: int = 4096
    # localized string-column groups sharing one dictionary
    # (README.md:153-157): {base_column: {property_name: PropertyInput}},
    # property_name is ``base`` or ``base:locale``
    localized: dict[str, dict[str, PropertyInput]] | None = None


def encode_localized_column(
    base: str, group: dict[str, PropertyInput], n_features: int
) -> tuple[bytes, bytes]:
    """LOCALIZED_DICTIONARY column: per-locale (present, data) stream
    pairs + one shared first-occurrence dictionary (decode twin:
    covtDecoder.ts:375-421; the gen-B encoder itself throws 'not
    supported', CovtConverter.java:358-360 — we implement it).

    Physical layout: all pair streams in metadata order, then the length
    stream, then the dictionary slab; present streams get unique metadata
    names (``present_<locale>``) since stream names key a map, while the
    decoder pairs streams by order.
    """
    seen: dict[str, int] = {}
    pair_streams: list[tuple[str, int, bytes]] = []
    for prop_name, prop in group.items():
        locale = prop_name.split(":", 1)[1] if ":" in prop_name else base
        present = (
            prop.present.astype(bool)
            if prop.present is not None
            else np.ones(n_features, dtype=bool)
        )
        n_present = int(present.sum())
        vals = np.asarray(prop.values, dtype=object)
        sparse = vals if len(vals) == n_present else vals[present]
        idx = np.empty(len(sparse), dtype=np.int64)
        for i, s in enumerate(sparse):
            j = seen.get(s)
            if j is None:
                j = len(seen)
                seen[s] = j
            idx[i] = j
        present_bytes = encode_byte_rle(pack_bitset(present, n_features))
        data_bytes = encode_int_rle(idx, signed=False)
        stream_name = base if prop_name == base else locale
        pair_streams.append((f"present_{stream_name}", n_features, present_bytes))
        pair_streams.append((stream_name, n_present, data_bytes))

    dict_raw = [s.encode("utf-8") for s in seen]
    len_bytes = encode_int_rle(
        np.array([len(r) for r in dict_raw], dtype=np.int64), signed=False
    )
    dict_bytes = b"".join(dict_raw)
    streams = [
        *pair_streams,
        (LENGTH_STREAM, len(dict_raw), len_bytes),
        (DICTIONARY_STREAM, len(dict_raw), dict_bytes),
    ]
    meta = (
        _write_string(base)
        + bytes([ColumnDataType.STRING, ColumnEncoding.LOCALIZED_DICTIONARY])
        + encode_varint(len(streams))
        + b"".join(_stream_meta(nm, nv, len(b)) for nm, nv, b in streams)
    )
    data = b"".join(b for _, _, b in streams)
    return meta, data


def encode_layer(layer: LayerInput) -> bytes:
    """Encode one layer: header + id + geometry + property columns."""
    n = len(layer.geometry.geometry_types)
    props = layer.properties or {}

    col_metas: list[bytes] = []
    col_datas: list[bytes] = []

    if layer.ids is not None:
        enc, data = encode_id_column(layer.ids)
        col_metas.append(
            _write_string(ID_COLUMN)
            + bytes([ColumnDataType.UINT_64, enc])
            + encode_varint(1)
            + _stream_meta(DATA_STREAM, n, len(data))
        )
        col_datas.append(data)

    g_meta, g_data = encode_geometry_column(layer.geometry, layer.extent)
    col_metas.append(g_meta)
    col_datas.append(g_data)

    for name, prop in props.items():
        p_meta, p_data = encode_property_column(name, prop, n)
        col_metas.append(p_meta)
        col_datas.append(p_data)

    for base, group in (layer.localized or {}).items():
        l_meta, l_data = encode_localized_column(base, group, n)
        col_metas.append(l_meta)
        col_datas.append(l_data)

    header = (
        _write_string(layer.name)
        + encode_varint(n)
        + encode_varint(len(col_metas))
        + b"".join(col_metas)
    )
    return header + b"".join(col_datas)


def encode_tile(layers: list[LayerInput]) -> bytes:
    """Encode a full COVT gen-A tile (file header + layers)."""
    body = b"".join(encode_layer(l) for l in layers)
    return encode_varint(VERSION) + encode_varint(len(layers)) + body
