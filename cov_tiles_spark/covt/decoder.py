"""COVT (gen-A) tile decoder — numpy-vectorized, fixture-conformant.

Wire layout per `/root/reference/parser/js/src/decoder/covtDecoder.ts`:

    file header : varint version, varint numLayers           (:97-101)
    layer header: string name, varint numFeatures, varint numColumns,
                  then per column: string name, u8 dataType, u8 encoding,
                  varint numStreams, per stream (string name,
                  varint numValues, varint byteLength)        (:103-146)
    id column   : RLE (unsigned) or zigzag-delta varints      (:148-162)
    geometry    : byte-RLE geometry_types; u32-RLE geometry/part/ring
                  offsets (counts, not absolute offsets, :176,187);
                  plain: points absolute zigzag varints, line/ring vertex
                  deltas restart per part (:238-339); ICE: zigzag-delta
                  vertex_offsets + continuous-delta dictionary (:205-221)
    property    : byte-RLE present bitset (ceil(n/8) bytes); typed data
                  (:366-490)

Headers and string dictionaries are parsed from the tile's ``bytes``;
numpy pays a fixed setup per call, so a scalar read from a numpy array
costs several times a read from ``bytes``. Value streams go through the
`varint`/`rle` kernels, which walk a short stream in pure Python and
decode a long one in one vectorized pass. Per-part delta restarts are
applied as a grouped cumulative sum with per-segment base subtraction —
no per-vertex Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import numpy as np

from cov_tiles_spark.covt.bitset import unpack_bitset
from cov_tiles_spark.covt.metadata import (
    DATA_STREAM,
    DICTIONARY_STREAM,
    GEOMETRY_COLUMN,
    GEOMETRY_OFFSETS_STREAM,
    ID_COLUMN,
    LENGTH_STREAM,
    PART_OFFSETS_STREAM,
    RING_OFFSETS_STREAM,
    VERTEX_BUFFER_STREAM,
    VERTEX_OFFSETS_STREAM,
    ColumnDataType,
    ColumnEncoding,
    ColumnMetadata,
    GeometryType,
    LayerMetadata,
    StreamMetadata,
)
from cov_tiles_spark.covt.rle import decode_byte_rle, decode_int_rle
from cov_tiles_spark.covt.varint import (
    decode_varint,
    decode_varints,
    decode_zigzag_varints,
    walk_varints,
)

_DATA_TYPES = {int(t): t for t in ColumnDataType}
_ENCODINGS = {int(e): e for e in ColumnEncoding}


@dataclass
class GeometryColumn:
    """Struct-of-arrays geometry (`layerTable.ts:26-33`)."""

    geometry_types: np.ndarray  # uint8 (n_features)
    vertex_buffer: np.ndarray  # int32 interleaved x,y
    geometry_offsets: np.ndarray | None = None  # uint32 counts
    part_offsets: np.ndarray | None = None
    ring_offsets: np.ndarray | None = None
    vertex_offsets: np.ndarray | None = None  # ICE dictionary indices


@dataclass
class PropertyColumn:
    """Decoded property column.

    ``present`` is a boolean array over all features. ``data`` is sparse
    (one entry per present feature) except BOOLEAN where it is dense.
    For string columns ``data`` holds dictionary indices and
    ``dictionary`` the decoded strings. Localized columns expose
    sub-streams in ``localized`` as {property_name: (present, indices)}.
    """

    data_type: ColumnDataType
    present: np.ndarray | None = None
    data: np.ndarray | None = None
    dictionary: list[str] | None = None
    localized: dict[str, tuple[np.ndarray, np.ndarray]] = field(default_factory=dict)


@dataclass
class LayerData:
    metadata: LayerMetadata
    ids: np.ndarray | None
    geometry: GeometryColumn
    properties: dict[str, PropertyColumn]

    def features(self) -> list[dict[str, Any]]:
        """Materialize a row view (id, geometry parts, properties).

        Geometry format matches the reference's ``Geometry.format()``
        (`geometry.ts`): a list of parts, each a list of (x, y) tuples;
        polygon rings are re-closed by appending the first vertex, and a
        multipoint gives one 1-point part per point, as MVT
        ``loadGeometry`` does.
        """
        return _materialize_features(self)


def _read_string(data: bytes, offset: int) -> tuple[str, int]:
    length, offset = decode_varint(data, offset)
    end = offset + length
    if end > len(data):
        raise ValueError("buffer exhausted: string runs past the tile")
    return data[offset:end].decode("utf-8"), end


def _decode_layer_header(data: bytes, offset: int) -> tuple[LayerMetadata, int]:
    name, offset = _read_string(data, offset)
    (num_features, num_columns), offset = walk_varints(data, 2, offset)
    columns: list[ColumnMetadata] = []
    for _ in range(num_columns):
        col_name, offset = _read_string(data, offset)
        data_type = _DATA_TYPES.get(data[offset])
        if data_type is None:  # zero-valued members are falsy: test None
            data_type = ColumnDataType(data[offset])  # raises ValueError
        encoding = _ENCODINGS.get(data[offset + 1])
        if encoding is None:
            encoding = ColumnEncoding(data[offset + 1])
        num_streams, offset = decode_varint(data, offset + 2)
        streams: dict[str, StreamMetadata] = {}
        for _ in range(num_streams):
            s_name, offset = _read_string(data, offset)
            (n_vals, b_len), offset = walk_varints(data, 2, offset)
            streams[s_name] = StreamMetadata(n_vals, b_len)
        columns.append(ColumnMetadata(col_name, data_type, encoding, streams))
    return LayerMetadata(name, num_features, columns), offset


def _decode_id_column(
    buf: np.ndarray, offset: int, n: int, encoding: ColumnEncoding
) -> tuple[np.ndarray, int]:
    if encoding == ColumnEncoding.RLE:
        vals, offset = decode_int_rle(buf, n, offset, signed=False)
        return vals.astype(np.int64), offset
    if encoding == ColumnEncoding.DELTA_VARINT:
        deltas, offset = decode_zigzag_varints(buf, n, offset)
        return np.cumsum(deltas, dtype=np.int64), offset
    raise ValueError(f"unsupported id encoding {encoding}")


def _grouped_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0-1, 0..c1-1, ...] for counts array."""
    counts = counts.astype(np.int64, copy=False)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    return np.arange(total, dtype=np.int64) - starts


def vertex_segment_lengths(
    geometry_types: np.ndarray,
    geometry_offsets: np.ndarray | None,
    part_offsets: np.ndarray | None,
    ring_offsets: np.ndarray | None,
) -> np.ndarray:
    """Per-delta-restart-segment vertex counts, in stream order.

    A *segment* is a delta chain: one point, one linestring part, or one
    polygon ring (`covtDecoder.ts:238-313` resets x=y=0 per part/ring;
    points are absolute, i.e. their own 1-vertex segment).
    """
    t = np.asarray(geometry_types, dtype=np.int64)
    n = t.shape[0]
    if (t == GeometryType.POINT).all():  # pure point layers: 1-vertex segments
        return np.ones(n, dtype=np.int64)
    go = np.zeros(0, np.int64) if geometry_offsets is None else geometry_offsets.astype(np.int64)
    po = np.zeros(0, np.int64) if part_offsets is None else part_offsets.astype(np.int64)
    ro = np.zeros(0, np.int64) if ring_offsets is None else ring_offsets.astype(np.int64)

    is_pt = t == GeometryType.POINT
    is_ls = t == GeometryType.LINESTRING
    is_poly = t == GeometryType.POLYGON
    is_mpt = t == GeometryType.MULTI_POINT
    is_mls = t == GeometryType.MULTI_LINESTRING
    is_mpoly = t == GeometryType.MULTI_POLYGON

    # geometry_offsets consumption (multi geometries only)
    g_consume = is_mpt | is_mls | is_mpoly
    g_vals = np.zeros(n, np.int64)
    g_vals[g_consume] = go[: int(g_consume.sum())]

    # part_offsets consumption per feature
    parts_per = np.zeros(n, np.int64)
    parts_per[is_ls | is_poly] = 1
    parts_per[is_mls] = g_vals[is_mls]
    parts_per[is_mpoly] = g_vals[is_mpoly]
    part_start = np.cumsum(parts_per) - parts_per

    # rings per feature (sum of the feature's part values, polygon kinds)
    pcum = np.concatenate([[0], np.cumsum(po)])
    rings_per = np.zeros(n, np.int64)
    poly_kind = is_poly | is_mpoly
    rings_per[poly_kind] = (
        pcum[part_start[poly_kind] + parts_per[poly_kind]] - pcum[part_start[poly_kind]]
    )
    ring_start = np.cumsum(rings_per) - rings_per

    # segments per feature
    segs_per = np.zeros(n, np.int64)
    segs_per[is_pt | is_mpt] = 1
    segs_per[is_ls] = 1
    segs_per[is_mls] = g_vals[is_mls]
    segs_per[poly_kind] = rings_per[poly_kind]
    block_start = np.cumsum(segs_per) - segs_per

    seg_lengths = np.empty(int(segs_per.sum()), dtype=np.int64)
    # points: single 1-vertex segment
    seg_lengths[block_start[is_pt]] = 1
    # multipoints (our extension; reference decoder has no MULTI_POINT case,
    # covtDecoder.ts:238-313): one delta-chain segment of g points
    seg_lengths[block_start[is_mpt]] = g_vals[is_mpt]
    # line-kind: one segment per part, values from part_offsets
    line_kind = is_ls | is_mls
    if line_kind.any():
        cnt = parts_per[line_kind]
        dst = np.repeat(block_start[line_kind], cnt) + _grouped_arange(cnt)
        src = np.repeat(part_start[line_kind], cnt) + _grouped_arange(cnt)
        seg_lengths[dst] = po[src]
    # ring-kind: one segment per ring, values from ring_offsets
    if poly_kind.any():
        cnt = rings_per[poly_kind]
        dst = np.repeat(block_start[poly_kind], cnt) + _grouped_arange(cnt)
        src = np.repeat(ring_start[poly_kind], cnt) + _grouped_arange(cnt)
        seg_lengths[dst] = ro[src]
    return seg_lengths


def segmented_cumsum(deltas: np.ndarray, seg_lengths: np.ndarray) -> np.ndarray:
    """Cumulative sum with the chain reset to 0 at each segment start."""
    abs_vals = np.cumsum(deltas, dtype=np.int64)
    starts = np.cumsum(seg_lengths) - seg_lengths
    base = np.zeros(seg_lengths.shape[0], dtype=np.int64)
    nz = starts > 0
    base[nz] = abs_vals[starts[nz] - 1]
    return abs_vals - np.repeat(base, seg_lengths)


def _decode_geometry_column(
    buf: np.ndarray, offset: int, n_features: int, col: ColumnMetadata
) -> tuple[GeometryColumn, int]:
    geometry_types, offset = decode_byte_rle(buf, n_features, offset)

    geometry_offsets = part_offsets = ring_offsets = None
    sm = col.streams
    if GEOMETRY_OFFSETS_STREAM in sm:
        geometry_offsets, offset = decode_int_rle(
            buf, sm[GEOMETRY_OFFSETS_STREAM].num_values, offset, signed=False
        )
    if PART_OFFSETS_STREAM in sm:
        part_offsets, offset = decode_int_rle(
            buf, sm[PART_OFFSETS_STREAM].num_values, offset, signed=False
        )

    vb_meta = sm[VERTEX_BUFFER_STREAM]
    if col.encoding == ColumnEncoding.INDEXED_COORDINATE_ENCODING:
        # ICE polygons (amazon fixture) additionally carry ring_offsets
        # between part_offsets and vertex_offsets; the reference TS decoder
        # lacks this path entirely (covtDecoder.ts:205-222 "ICE currently
        # only supported for LineStrings") — we support it.
        if RING_OFFSETS_STREAM in sm:
            ring_offsets, offset = decode_int_rle(
                buf, sm[RING_OFFSETS_STREAM].num_values, offset, signed=False
            )
        vo_meta = sm[VERTEX_OFFSETS_STREAM]
        deltas, offset = decode_zigzag_varints(buf, vo_meta.num_values, offset)
        vertex_offsets = np.cumsum(deltas, dtype=np.int64)
        # dictionary: continuous delta chain over interleaved x,y
        coords, offset = decode_zigzag_varints(buf, vb_meta.num_values * 2, offset)
        vertex_buffer = np.cumsum(coords.reshape(-1, 2), axis=0, dtype=np.int64).ravel()
        return (
            GeometryColumn(
                geometry_types=geometry_types,
                vertex_buffer=vertex_buffer.astype(np.int32),
                geometry_offsets=geometry_offsets,
                part_offsets=part_offsets,
                ring_offsets=ring_offsets,
                vertex_offsets=vertex_offsets,
            ),
            offset,
        )

    if RING_OFFSETS_STREAM in sm:
        ring_offsets, offset = decode_int_rle(
            buf, sm[RING_OFFSETS_STREAM].num_values, offset, signed=False
        )

    if (
        geometry_offsets is None
        and part_offsets is None
        and ring_offsets is None
        and (geometry_types == GeometryType.POINT).all()
    ):
        # pure point layer: every point is absolute (its own 1-vertex
        # delta chain), so the zigzag values ARE the interleaved x,y
        coords, offset = decode_zigzag_varints(buf, n_features * 2, offset)
        return (
            GeometryColumn(geometry_types, coords.astype(np.int32)),
            offset,
        )
    seg_lengths = vertex_segment_lengths(
        geometry_types, geometry_offsets, part_offsets, ring_offsets
    )
    n_vertices = int(seg_lengths.sum())
    if GeometryType.MULTI_POINT in geometry_types and n_vertices != vb_meta.num_values:
        raise NotImplementedError(
            "MULTI_POINT vertex decode diverges from reference (covtDecoder.ts has no case)"
        )
    coords, offset = decode_zigzag_varints(buf, n_vertices * 2, offset)
    xy = coords.reshape(-1, 2)
    x = segmented_cumsum(xy[:, 0], seg_lengths)
    y = segmented_cumsum(xy[:, 1], seg_lengths)
    vertex_buffer = np.empty(n_vertices * 2, dtype=np.int32)
    vertex_buffer[0::2] = x
    vertex_buffer[1::2] = y
    return (
        GeometryColumn(
            geometry_types=geometry_types,
            vertex_buffer=vertex_buffer,
            geometry_offsets=geometry_offsets,
            part_offsets=part_offsets,
            ring_offsets=ring_offsets,
        ),
        offset,
    )


def _decode_property_column(
    buf: np.ndarray, tile: bytes, offset: int, col: ColumnMetadata, n_features: int
) -> tuple[PropertyColumn, int]:
    n_present_bytes = (n_features + 7) // 8

    if col.encoding == ColumnEncoding.LOCALIZED_DICTIONARY:
        # length+dictionary live after all (present, data) pairs; their
        # position is the sum of the pair streams' byteLengths
        # (covtDecoder.ts:375-421)
        stream_items = list(col.streams.items())
        pair_bytes = sum(
            m.byte_length
            for name, m in stream_items
            if name not in (LENGTH_STREAM, DICTIONARY_STREAM)
        )
        tail = offset + pair_bytes
        lengths, dict_offset = decode_int_rle(
            buf, col.streams[LENGTH_STREAM].num_values, tail, signed=False
        )
        dictionary, end_offset = _decode_string_dictionary(tile, dict_offset, lengths)

        localized: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        present = None
        for i, (s_name, s_meta) in enumerate(stream_items):
            if i >= len(stream_items) - 2:
                break
            if i % 2 == 0:
                pres_bytes, offset = decode_byte_rle(buf, n_present_bytes, offset)
                present = unpack_bitset(pres_bytes, n_features)
            else:
                data, offset = decode_int_rle(buf, s_meta.num_values, offset, signed=False)
                prop = col.name if s_name == col.name else f"{col.name}:{s_name}"
                localized[prop] = (present, data.astype(np.int64))
        return (
            PropertyColumn(
                data_type=col.data_type, dictionary=dictionary, localized=localized
            ),
            end_offset,
        )

    pres_bytes, offset = decode_byte_rle(buf, n_present_bytes, offset)
    present = unpack_bitset(pres_bytes, n_features)

    if col.data_type == ColumnDataType.BOOLEAN:
        data_bytes, offset = decode_byte_rle(buf, n_present_bytes, offset)
        data = unpack_bitset(data_bytes, n_features)  # dense over all features
        return PropertyColumn(col.data_type, present, data), offset

    if col.data_type in (ColumnDataType.INT_64, ColumnDataType.UINT_64):
        n_vals = col.streams[DATA_STREAM].num_values
        signed = col.data_type == ColumnDataType.INT_64
        if col.encoding == ColumnEncoding.VARINT:
            if signed:
                raw, offset = decode_zigzag_varints(buf, n_vals, offset)
            else:
                u, offset = decode_varints(buf, n_vals, offset)
                raw = u.astype(np.int64)
            return PropertyColumn(col.data_type, present, np.asarray(raw, np.int64)), offset
        if col.encoding == ColumnEncoding.RLE:
            raw, offset = decode_int_rle(buf, n_vals, offset, signed=signed)
            return PropertyColumn(col.data_type, present, raw.astype(np.int64)), offset
        raise ValueError(f"unsupported int encoding {col.encoding}")

    if col.data_type == ColumnDataType.FLOAT:
        n_vals = col.streams[DATA_STREAM].num_values
        if offset + 4 * n_vals > len(tile):
            raise ValueError("buffer exhausted: float stream runs past the tile")
        data = np.frombuffer(tile, dtype="<f4", count=n_vals, offset=offset).copy()
        return PropertyColumn(col.data_type, present, data), offset + 4 * n_vals

    if col.data_type == ColumnDataType.STRING:
        n_data = col.streams[DATA_STREAM].num_values
        n_len = col.streams[LENGTH_STREAM].num_values
        data, offset = decode_int_rle(buf, n_data, offset, signed=False)
        lengths, offset = decode_int_rle(buf, n_len, offset, signed=False)
        dictionary, offset = _decode_string_dictionary(tile, offset, lengths)
        return (
            PropertyColumn(col.data_type, present, data.astype(np.int64), dictionary),
            offset,
        )

    raise ValueError(f"unsupported property type {col.data_type}")


def _decode_string_dictionary(
    tile: bytes, offset: int, lengths: np.ndarray
) -> tuple[list[str], int]:
    values: list[str] = []
    for ln in lengths.tolist():
        end = offset + ln
        values.append(tile[offset:end].decode("utf-8"))
        offset = end
    if offset > len(tile):
        raise ValueError("buffer exhausted: dictionary runs past the tile")
    return values, offset


def decode_covt(tile: bytes | np.ndarray) -> dict[str, LayerData]:
    """Decode a full COVT gen-A tile into per-layer columnar data."""
    if not isinstance(tile, bytes):
        tile = bytes(tile)
    buf = np.frombuffer(tile, dtype=np.uint8)
    (_version, num_layers), offset = walk_varints(tile, 2, 0)

    layers: dict[str, LayerData] = {}
    for _ in range(num_layers):
        meta, offset = _decode_layer_header(tile, offset)
        columns = list(meta.columns)

        ids = None
        if columns and columns[0].name == ID_COLUMN:
            id_meta = columns.pop(0)
            ids, offset = _decode_id_column(buf, offset, meta.num_features, id_meta.encoding)

        geom_meta = columns.pop(0)
        if geom_meta.name != GEOMETRY_COLUMN:
            raise ValueError("geometry column must be first or second")
        geometry, offset = _decode_geometry_column(buf, offset, meta.num_features, geom_meta)

        properties: dict[str, PropertyColumn] = {}
        for col in columns:
            prop, offset = _decode_property_column(
                buf, tile, offset, col, meta.num_features
            )
            properties[col.name] = prop

        layers[meta.name] = LayerData(meta, ids, geometry, properties)
    return layers


def _materialize_features(layer: LayerData) -> list[dict[str, Any]]:
    """Row view used by the conformance oracle (mirrors layerTable.ts)."""
    g = layer.geometry
    n = layer.metadata.num_features
    t = g.geometry_types
    feats: list[dict[str, Any]] = []

    out_props: list[dict[str, Any]] = [dict() for _ in range(n)]
    for col_name, pc in layer.properties.items():
        if pc.localized:
            for prop_name, (present, data) in pc.localized.items():
                cursor = 0
                idxs = np.flatnonzero(present)
                for i in idxs.tolist():
                    out_props[i][prop_name] = pc.dictionary[int(data[cursor])]
                    cursor += 1
        elif pc.data_type == ColumnDataType.BOOLEAN:
            idxs = np.flatnonzero(pc.present)
            for i in idxs.tolist():
                out_props[i][col_name] = bool(pc.data[i])
        elif pc.dictionary is not None:
            idxs = np.flatnonzero(pc.present)
            for cursor, i in enumerate(idxs.tolist()):
                out_props[i][col_name] = pc.dictionary[int(pc.data[cursor])]
        else:
            idxs = np.flatnonzero(pc.present)
            for cursor, i in enumerate(idxs.tolist()):
                v = pc.data[cursor]
                out_props[i][col_name] = float(v) if pc.data_type == ColumnDataType.FLOAT else int(v)

    # one (x, y) per vertex in stream order: ICE layers index the
    # dictionary through vertex_offsets, plain layers read it in order
    vb = np.asarray(g.vertex_buffer).reshape(-1, 2)
    if g.vertex_offsets is not None:
        vb = vb[g.vertex_offsets]
    coords = list(zip(vb[:, 0].tolist(), vb[:, 1].tolist()))
    vo = go_c = po_c = ro_c = 0  # vertex, geometry, part and ring cursors
    for i in range(n):
        gt = int(t[i])
        parts: list[list[tuple[int, int]]] = []
        if gt == GeometryType.POINT:
            parts = [[coords[vo]]]
            vo += 1
        elif gt == GeometryType.LINESTRING:
            nv = int(g.part_offsets[po_c]); po_c += 1
            parts = [coords[vo : vo + nv]]
            vo += nv
        elif gt == GeometryType.POLYGON:
            n_rings = int(g.part_offsets[po_c]); po_c += 1
            for _ in range(n_rings):
                nv = int(g.ring_offsets[ro_c]); ro_c += 1
                ring = coords[vo : vo + nv]
                vo += nv
                if ring[-1] != ring[0]:  # amazon fixtures store rings closed
                    ring.append(ring[0])
                parts.append(ring)
        elif gt == GeometryType.MULTI_LINESTRING:
            n_ls = int(g.geometry_offsets[go_c]); go_c += 1
            for _ in range(n_ls):
                nv = int(g.part_offsets[po_c]); po_c += 1
                parts.append(coords[vo : vo + nv])
                vo += nv
        elif gt == GeometryType.MULTI_POLYGON:
            n_poly = int(g.geometry_offsets[go_c]); go_c += 1
            for _ in range(n_poly):
                n_rings = int(g.part_offsets[po_c]); po_c += 1
                for _ in range(n_rings):
                    nv = int(g.ring_offsets[ro_c]); ro_c += 1
                    ring = coords[vo : vo + nv]
                    vo += nv
                    if ring[-1] != ring[0]:  # amazon fixtures store rings closed
                        ring.append(ring[0])
                    parts.append(ring)
        elif gt == GeometryType.MULTI_POINT:
            # one 1-point part per point, as MVT loadGeometry returns it
            n_pts = int(g.geometry_offsets[go_c]); go_c += 1
            parts = [[c] for c in coords[vo : vo + n_pts]]
            vo += n_pts
        else:
            raise ValueError(f"unknown geometry type {gt}")

        feats.append(
            {
                "id": int(layer.ids[i]) if layer.ids is not None else None,
                "geometry_type": gt,
                "geometry": parts,
                "properties": out_props[i],
            }
        )
    return feats
