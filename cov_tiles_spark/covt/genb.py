"""COVT gen-B ("current format") encoder + decoder.

The reference maintains two wire formats: the gen-A self-describing
format our `covt/encoder.py`/`covt/decoder.py` implement (golden-fixture
conformant), and the current converter/parser pair with nibble-packed
metadata, optional TileJSON-externalized names, and optional FastPFOR
streams — `CovtParser.java:39-660` (decode), `CovtConverter.java:92-363`
(encode), `spec/METADATA.md`. This module implements that generation:

Layer layout (`CovtParser.java:574-652`):
    u8 layerHeader            = version << 1 | optimizeMetadata
    optimized: varint layerId (index into TileJSON vector_layers)
    else:      string layerName (varint length ‖ utf8)
    varints: extent, numFeatures, numColumns
    per column:
        columnName: varint columnId if optimized or first column
                    (0 = id, 1 = geometry, else fields[columnId - 2]),
                    else string
        u8 columnDesc         = required << 7 | dataType << 3 | columnType
        streams until terminal stream (`:628-648`):
            u8 streamDesc     = streamType << 4 | streamEncoding
            varint numValues ‖ varint byteLength
Data section per column, in metadata order (`convertMvtTile:169-174`):
    id       : one data stream, no present bitset (`:71-74, 552-571`)
    geometry : streams in StreamType-ordinal order (TreeMap semantics)
    boolean  : byte-RLE bitset of merged values, no present (`:280-290`)
    long     : implicit BOOLEAN_RLE present bitset ‖ data (`:292-326`)
    float    : present ‖ IEEE754 LE floats (`:327-338`)
    string   : present ‖ RLE dict indices ‖ RLE lengths ‖ utf8 slab
               (`:339-361, 380-390`)

The PRESENT streams are intentionally absent from the metadata
(`CovtConverter.java:431-439`); the parser derives ceil(numFeatures/8)
bytes implicitly. Property columns are grouped boolean → long → float →
string-dictionary, column ids 2.. (`CovtConverter.java:346-356`).

FAST_PFOR_DELTA_ZIG_ZAG streams use our from-scratch patched-FOR codec
(`covt/pfor.py`). Each stream that can take FAST_PFOR picks it or its
varint/RLE alternative by encoded size, as the converter does
(`CovtConverter.java:656-668, 807-855`).

:func:`decode_tile_genb` decodes every layer; its ``columns`` projection
skips the data streams of unselected columns by their recorded byte
lengths.
"""

from __future__ import annotations

from enum import IntEnum

import numpy as np

from cov_tiles_spark.covt.bitset import pack_bitset, unpack_bitset
from cov_tiles_spark.covt.decoder import GeometryColumn, LayerData, PropertyColumn
from cov_tiles_spark.covt.encoder import (
    LayerInput,
    PropertyInput,
    _write_string,
    first_occurrence_codes,
)
from cov_tiles_spark.covt.metadata import (
    ColumnDataType,
    ColumnMetadata,
    LayerMetadata,
    StreamMetadata,
)
from cov_tiles_spark.covt.metadata import ColumnEncoding as GenAEncoding
from cov_tiles_spark.covt.pfor import decode_pfor, encode_pfor
from cov_tiles_spark.covt.rle import (
    decode_byte_rle,
    decode_int_rle,
    encode_byte_rle,
    encode_int_rle,
)
from cov_tiles_spark.covt.sfc import hilbert_encode, morton_decode, morton_encode
from cov_tiles_spark.covt.varint import (
    decode_varint,
    decode_varints,
    decode_zigzag_varints,
    encode_varint,
    encode_varints,
    walk_varints,
    zigzag_encode,
)

VERSION = 1


class StreamType(IntEnum):
    """`StreamType.java` ordinals (nibble in the stream descriptor)."""

    PRESENT = 0
    DATA = 1
    LENGTH = 2
    DICTIONARY = 3
    GEOMETRY_TYPES = 4
    GEOMETRY_OFFSETS = 5
    PART_OFFSETS = 6
    RING_OFFSETS = 7
    VERTEX_OFFSETS = 8
    VERTEX_BUFFER = 9
    Z_VALUE = 10
    M_VALUE = 11


class StreamEncoding(IntEnum):
    """`StreamEncoding.java` ordinals."""

    PLAIN = 0
    VARINT = 1
    VARINT_ZIG_ZAG = 2
    VARINT_DELTA = 3
    VARINT_DELTA_ZIG_ZAG = 4
    RLE = 5
    BOOLEAN_RLE = 6
    BYTE_RLE = 7
    FAST_PFOR_DELTA = 8
    FAST_PFOR_DELTA_ZIG_ZAG = 9


class GColumnType(IntEnum):
    """`ColumnType.java` ordinals (low 3 bits of the column descriptor).

    Exactly the reference's five types; any other descriptor value fails
    decode with ``ValueError``."""

    PLAIN = 0
    DICTIONARY = 1
    LOCALIZED_DICTIONARY = 2
    ICE = 3
    ICE_MORTON_CODE = 4


class GDataType(IntEnum):
    """`ColumnDataType.java` ordinals (bits 3-6 of the descriptor)."""

    BOOLEAN = 0
    INT_32 = 1
    UINT_32 = 2
    INT_64 = 3
    UINT_64 = 4
    FLOAT = 5
    DOUBLE = 6
    STRING = 7
    GEOMETRY = 8


ID_COLUMN = "id"
GEOMETRY_COLUMN = "geometry"

# enum-by-code caches for the header-parse hot path: IntEnum.__call__
# costs ~1.3 µs and runs twice per stream + twice per column — on a
# 451-property tile (amazon/5_5_11) that is ~5k enum constructions per
# decode, ~6% of the whole wall (profiled). A dict hit is ~20x cheaper;
# invalid codes fall through to the enum call so the error stays a
# ValueError for the fuzz suite.
_STYPE_BY_CODE = {e.value: e for e in StreamType}
_SENC_BY_CODE = {e.value: e for e in StreamEncoding}
_GDTYPE_BY_CODE = {e.value: e for e in GDataType}
_GCTYPE_BY_CODE = {e.value: e for e in GColumnType}
_STYPE_NAME = {e: e.name.lower() for e in StreamType}

# gen-B data type -> gen-A enum used by the shared PropertyColumn struct
_TO_GENA = {
    GDataType.BOOLEAN: ColumnDataType.BOOLEAN,
    GDataType.INT_64: ColumnDataType.INT_64,
    GDataType.UINT_64: ColumnDataType.UINT_64,
    GDataType.FLOAT: ColumnDataType.FLOAT,
    GDataType.STRING: ColumnDataType.STRING,
}


def _stream_meta(stype: StreamType, enc: StreamEncoding, num_values: int, data: bytes) -> bytes:
    return bytes([(stype << 4) | enc]) + encode_varint(num_values) + encode_varint(len(data))


def _best_offsets(vals: np.ndarray) -> tuple[StreamEncoding, bytes]:
    """Topology offsets: RLE vs FastPFOR-delta-zigzag (`CovtConverter.java:899-919`)."""
    rle = encode_int_rle(vals, signed=False)
    pfor = encode_pfor(vals, zigzag=True, delta=True)
    if len(pfor) <= len(rle):
        return StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG, pfor
    return StreamEncoding.RLE, rle


def _interleaved_zigzag_delta(vb: np.ndarray) -> np.ndarray:
    """Continuous x/y delta chains over the whole buffer
    (`EncodingUtils.java:190-211` — no per-part restart in gen-B)."""
    v = np.asarray(vb, dtype=np.int64)
    x = v[0::2]
    y = v[1::2]
    out = np.empty_like(v)
    out[0::2] = np.diff(x, prepend=np.int64(0))
    out[1::2] = np.diff(y, prepend=np.int64(0))
    return out


def _undo_interleaved_delta(deltas: np.ndarray) -> np.ndarray:
    out = np.empty_like(deltas)
    out[0::2] = np.cumsum(deltas[0::2], dtype=np.int64)
    out[1::2] = np.cumsum(deltas[1::2], dtype=np.int64)
    return out


def _best_vertex_buffer(vb: np.ndarray) -> tuple[StreamEncoding, bytes]:
    """Plain vertex buffer: varint vs FastPFOR of the zigzag deltas
    (`CovtConverter.java:646-668`)."""
    zz = zigzag_encode(_interleaved_zigzag_delta(vb))
    var = encode_varints(zz)
    pfor = encode_pfor(zz.astype(np.int64), zigzag=False, delta=False)
    if len(pfor) <= len(var):
        return StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG, pfor
    return StreamEncoding.VARINT_DELTA_ZIG_ZAG, var


def _encode_geometry_best(
    geom: GeometryColumn,
    extent: int,
) -> tuple[GColumnType, list[tuple[StreamType, StreamEncoding, int, bytes]]]:
    """Per-layer best-of {plain, ICE, ICE-morton} by encoded size
    (`CovtConverter.java:122-136` keeps the smaller of unordered vs ICE)."""
    candidates = ["plain"]
    vb = np.asarray(geom.vertex_buffer, dtype=np.int64)
    half = extent // 2
    in_range = (
        vb.size > 0
        and extent in (4096, 8192)
        and vb.min() >= -half
        and vb.max() < 3 * half
    )
    if in_range:
        candidates += ["ice", "ice_morton"]
    best = None
    for mode in candidates:
        ctype, streams = _encode_geometry(geom, extent, mode)
        size = sum(len(d) for _, _, _, d in streams)
        if best is None or size < best[0]:
            best = (size, ctype, streams)
    return best[1], best[2]


def _encode_geometry(
    geom: GeometryColumn,
    extent: int,
    geometry_encoding: str,
) -> tuple[GColumnType, list[tuple[StreamType, StreamEncoding, int, bytes]]]:
    """Geometry column streams in StreamType-ordinal order."""
    types = np.asarray(geom.geometry_types, dtype=np.uint8)
    streams: list[tuple[StreamType, StreamEncoding, int, bytes]] = [
        (
            StreamType.GEOMETRY_TYPES,
            StreamEncoding.BYTE_RLE,
            len(types),
            encode_byte_rle(types),
        )
    ]
    for stype, vals in (
        (StreamType.GEOMETRY_OFFSETS, geom.geometry_offsets),
        (StreamType.PART_OFFSETS, geom.part_offsets),
        (StreamType.RING_OFFSETS, geom.ring_offsets),
    ):
        if vals is not None and len(vals):
            enc, data = _best_offsets(np.asarray(vals, np.int64))
            streams.append((stype, enc, len(vals), data))

    vb = np.asarray(geom.vertex_buffer, dtype=np.int64)
    if geometry_encoding == "plain":
        enc, data = _best_vertex_buffer(vb)
        streams.append((StreamType.VERTEX_BUFFER, enc, len(vb) // 2, data))
        return GColumnType.PLAIN, streams

    # ICE / ICE_MORTON: SFC-sorted vertex dictionary + per-vertex offsets
    # (`CovtConverter.java:671-768, 771-856`)
    x = vb[0::2]
    y = vb[1::2]
    bits = 13 if extent == 4096 else 14
    use_morton = geometry_encoding == "ice_morton"
    sfc = (
        morton_encode(x, y, extent * 2)
        if use_morton
        else hilbert_encode(x, y, extent * 2, bits + 1)
    )
    uniq_sfc, first_idx, inverse = np.unique(sfc, return_index=True, return_inverse=True)
    offs = inverse.astype(np.int64)
    var_offs = encode_varints(zigzag_encode(np.diff(offs, prepend=np.int64(0))))
    pfor_offs = encode_pfor(offs, zigzag=True, delta=True)
    if len(pfor_offs) < len(var_offs):
        off_enc, off_bytes = StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG, pfor_offs
    else:
        off_enc, off_bytes = StreamEncoding.VARINT_DELTA_ZIG_ZAG, var_offs
    streams.append((StreamType.VERTEX_OFFSETS, off_enc, len(offs), off_bytes))

    if use_morton:
        # sorted morton codes, delta without zigzag
        # (`encodeVertexDictionaryVarintWithMortonId`, decode `:394-409`)
        codes = uniq_sfc.astype(np.int64)
        deltas = np.diff(codes, prepend=np.int64(0))
        var_dict = encode_varints(deltas.astype(np.uint64))
        pfor_dict = encode_pfor(deltas, zigzag=False, delta=False)
        if len(pfor_dict) < len(var_dict):
            dict_enc, dict_bytes = StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG, pfor_dict
        else:
            dict_enc, dict_bytes = StreamEncoding.VARINT_DELTA_ZIG_ZAG, var_dict
        streams.append((StreamType.VERTEX_BUFFER, dict_enc, len(codes), dict_bytes))
        return GColumnType.ICE_MORTON_CODE, streams

    inter = np.empty(len(uniq_sfc) * 2, dtype=np.int64)
    inter[0::2] = x[first_idx]
    inter[1::2] = y[first_idx]
    enc, data = _best_vertex_buffer(inter)
    streams.append((StreamType.VERTEX_BUFFER, enc, len(uniq_sfc), data))
    return GColumnType.ICE, streams


def _encode_id(ids: np.ndarray) -> tuple[StreamEncoding, bytes]:
    """Best of RLE / varint / delta-zigzag-varint (`CovtConverter.java:549-569`,
    parser `:552-571`)."""
    v = np.asarray(ids, dtype=np.int64)
    rle = encode_int_rle(v, signed=False)
    var = encode_varints(v.astype(np.uint64))
    dvar = encode_varints(zigzag_encode(np.diff(v, prepend=np.int64(0))))
    best = min(
        (len(rle), StreamEncoding.RLE, rle),
        (len(dvar), StreamEncoding.VARINT_DELTA_ZIG_ZAG, dvar),
        (len(var), StreamEncoding.VARINT, var),
        key=lambda t: t[0],
    )
    return best[1], best[2]


def encode_tile_genb(
    layers: list[LayerInput],
    optimize_metadata: bool = True,
    geometry_encoding: str = "plain",
) -> tuple[bytes, dict]:
    """Encode a gen-B tile; returns (payload, TileJSON sidecar dict).

    ``geometry_encoding`` is "plain", "ice", "ice_morton" or "best" (the
    smallest of those three). Within any of them, every topology, vertex
    offset and vertex stream picks FAST_PFOR or its RLE/varint
    alternative by encoded size, so the choice follows the data. The
    geometry column is always one of the reference's five column types.

    The TileJSON dict carries the externalized layer/column names required
    to decode optimized-metadata tiles (`CovtConverter.java:183-188`,
    `spec/METADATA.md` "names replaced by ids ... stored in a central
    separate file (TileJSON)"). Ids are per-tile: the returned sidecar
    decodes exactly this tile.
    """
    out: list[bytes] = []
    vector_layers: list[dict] = []
    for layer_id, layer in enumerate(layers):
        n = len(layer.geometry.geometry_types)
        props = layer.properties or {}
        # group property columns boolean -> long -> float -> string
        groups: dict[str, list[tuple[str, PropertyInput]]] = {
            "bool": [], "long": [], "float": [], "string": [],
        }
        for name, prop in props.items():
            if prop.data_type == ColumnDataType.BOOLEAN:
                groups["bool"].append((name, prop))
            elif prop.data_type in (ColumnDataType.INT_64, ColumnDataType.UINT_64):
                groups["long"].append((name, prop))
            elif prop.data_type == ColumnDataType.FLOAT:
                groups["float"].append((name, prop))
            elif prop.data_type == ColumnDataType.STRING:
                groups["string"].append((name, prop))
            else:
                raise ValueError(f"unsupported gen-B property type {prop.data_type}")
        ordered = groups["bool"] + groups["long"] + groups["float"] + groups["string"]

        n_localized = sum(len(g) for g in (layer.localized or {}).values())
        n_columns = 1 + (1 if layer.ids is not None else 0) + len(ordered) + n_localized
        header = bytes([(VERSION << 1) | (1 if optimize_metadata else 0)])
        if optimize_metadata:
            header += encode_varint(layer_id)
        else:
            header += _write_string(layer.name)
        header += encode_varint(layer.extent) + encode_varint(n) + encode_varint(n_columns)

        meta_parts: list[bytes] = [header]
        data_parts: list[bytes] = []

        def col_header(column_id: int, name: str, dtype: GDataType, ctype: GColumnType,
                       first: bool) -> bytes:
            # first column and optimized mode use ids; otherwise strings
            # (`CovtParser.java:604-617`)
            if optimize_metadata or first:
                return encode_varint(column_id) + bytes([(dtype << 3) | ctype])
            return _write_string(name) + bytes([(dtype << 3) | ctype])

        first = True
        if layer.ids is not None:
            enc, data = _encode_id(layer.ids)
            meta_parts.append(col_header(0, ID_COLUMN, GDataType.UINT_64, GColumnType.PLAIN, first))
            meta_parts.append(_stream_meta(StreamType.DATA, enc, n, data))
            data_parts.append(data)
            first = False

        if geometry_encoding == "best":
            ctype, gstreams = _encode_geometry_best(layer.geometry, layer.extent)
        else:
            ctype, gstreams = _encode_geometry(
                layer.geometry, layer.extent, geometry_encoding
            )
        meta_parts.append(col_header(1, GEOMETRY_COLUMN, GDataType.GEOMETRY, ctype, first))
        for stype, enc, nv, data in gstreams:
            meta_parts.append(_stream_meta(stype, enc, nv, data))
            data_parts.append(data)

        fields: dict[str, str] = {}
        column_id = 2
        for name, prop in ordered:
            present = (
                prop.present.astype(bool)
                if prop.present is not None
                else np.ones(n, dtype=bool)
            )
            n_present = int(present.sum())
            present_bytes = encode_byte_rle(pack_bitset(present, n))

            if prop.data_type == ColumnDataType.BOOLEAN:
                dense = np.zeros(n, dtype=bool)
                vals = np.asarray(prop.values, dtype=bool)
                dense[present] = vals if len(vals) == n_present else vals[present]
                data = encode_byte_rle(pack_bitset(dense, n))
                meta_parts.append(col_header(column_id, name, GDataType.BOOLEAN, GColumnType.PLAIN, False))
                meta_parts.append(_stream_meta(StreamType.DATA, StreamEncoding.BOOLEAN_RLE, n_present, data))
                data_parts.append(data)  # no separate present stream (:280-290)
                fields[name] = "Boolean"
            elif prop.data_type in (ColumnDataType.INT_64, ColumnDataType.UINT_64):
                vals = np.asarray(prop.values, dtype=np.int64)
                sparse = vals if len(vals) == n_present else vals[present]
                # best of RLE / delta-zigzag / zigzag varint (`:1087-1109`)
                rle = encode_int_rle(sparse, signed=True)
                dvar = encode_varints(zigzag_encode(np.diff(sparse, prepend=np.int64(0))))
                var = encode_varints(zigzag_encode(sparse))
                enc, data = min(
                    (len(rle), StreamEncoding.RLE, rle),
                    (len(dvar), StreamEncoding.VARINT_DELTA_ZIG_ZAG, dvar),
                    (len(var), StreamEncoding.VARINT_ZIG_ZAG, var),
                    key=lambda t: t[0],
                )[1:]
                meta_parts.append(col_header(column_id, name, GDataType.INT_64, GColumnType.PLAIN, False))
                meta_parts.append(_stream_meta(StreamType.DATA, enc, n_present, data))
                data_parts.append(present_bytes)
                data_parts.append(data)
                fields[name] = "Number"
            elif prop.data_type == ColumnDataType.FLOAT:
                vals = np.asarray(prop.values, dtype=np.float32)
                sparse = vals if len(vals) == n_present else vals[present]
                data = sparse.astype("<f4").tobytes()
                meta_parts.append(col_header(column_id, name, GDataType.FLOAT, GColumnType.PLAIN, False))
                meta_parts.append(_stream_meta(StreamType.DATA, StreamEncoding.PLAIN, n_present, data))
                data_parts.append(present_bytes)
                data_parts.append(data)
                fields[name] = "Number"
            else:  # STRING dictionary (`:1136-1166`)
                vals = np.asarray(prop.values, dtype=object)
                sparse = vals if len(vals) == n_present else vals[present]
                codes, uniques = first_occurrence_codes(sparse)
                dict_raw = [s.encode("utf-8") for s in uniques]
                data = encode_int_rle(codes, signed=False)
                len_bytes = encode_int_rle(
                    np.array([len(r) for r in dict_raw], np.int64), signed=False
                )
                dict_bytes = b"".join(dict_raw)
                meta_parts.append(col_header(column_id, name, GDataType.STRING, GColumnType.DICTIONARY, False))
                meta_parts.append(_stream_meta(StreamType.DATA, StreamEncoding.RLE, n_present, data))
                meta_parts.append(_stream_meta(StreamType.LENGTH, StreamEncoding.RLE, len(dict_raw), len_bytes))
                meta_parts.append(_stream_meta(StreamType.DICTIONARY, StreamEncoding.PLAIN, len(dict_raw), dict_bytes))
                data_parts.append(present_bytes)
                data_parts.append(data)
                data_parts.append(len_bytes)
                data_parts.append(dict_bytes)
                fields[name] = "String"
            column_id += 1

        # LOCALIZED_DICTIONARY groups (format-reserved ColumnType 2; the
        # reference parser never implemented it — `CovtParser.java:340`
        # TODO, converter throws `CovtConverter.java:358-360` — so this is
        # our documented extension): each locale is its own column; the
        # group leader carries LENGTH + DICTIONARY (shared, first-
        # occurrence across locales); followers end with an EMPTY
        # DICTIONARY marker stream (numValues=0, byteLength=0), which
        # keeps the parser's "break at DICTIONARY" state machine intact.
        for base, group in (layer.localized or {}).items():
            seen: dict[str, int] = {}
            encoded_members = []
            for prop_name, prop in group.items():
                present = (
                    prop.present.astype(bool)
                    if prop.present is not None
                    else np.ones(n, dtype=bool)
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
                encoded_members.append(
                    (prop_name, encode_byte_rle(pack_bitset(present, n)),
                     encode_int_rle(idx, signed=False), n_present)
                )
            dict_raw = [s.encode("utf-8") for s in seen]
            len_bytes = encode_int_rle(
                np.array([len(r) for r in dict_raw], np.int64), signed=False
            )
            dict_bytes = b"".join(dict_raw)
            for k, (prop_name, present_bytes, data, n_present) in enumerate(encoded_members):
                meta_parts.append(
                    col_header(column_id, prop_name, GDataType.STRING,
                               GColumnType.LOCALIZED_DICTIONARY, False)
                )
                meta_parts.append(_stream_meta(StreamType.DATA, StreamEncoding.RLE, n_present, data))
                data_parts.append(present_bytes)
                data_parts.append(data)
                if k == 0:  # leader carries the shared dictionary
                    meta_parts.append(_stream_meta(StreamType.LENGTH, StreamEncoding.RLE, len(dict_raw), len_bytes))
                    meta_parts.append(_stream_meta(StreamType.DICTIONARY, StreamEncoding.PLAIN, len(dict_raw), dict_bytes))
                    data_parts.append(len_bytes)
                    data_parts.append(dict_bytes)
                else:  # follower: empty marker, shares the leader's dictionary
                    meta_parts.append(_stream_meta(StreamType.DICTIONARY, StreamEncoding.PLAIN, 0, b""))
                fields[prop_name] = "String"
                column_id += 1

        out.append(b"".join(meta_parts))
        out.extend(data_parts)
        vector_layers.append({"id": layer.name, "fields": fields})

    return b"".join(out), {"vector_layers": vector_layers}


# ---------------------------------------------------------------- decoder


def _decode_stream_ints(
    buf: np.ndarray, offset: int, enc: StreamEncoding, n: int, byte_length: int
) -> tuple[np.ndarray, int]:
    if enc == StreamEncoding.RLE:
        vals, offset = decode_int_rle(buf, n, offset)
        return vals.astype(np.int64), offset
    if enc == StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG:
        vals = decode_pfor(buf, n, offset, zigzag=True, delta=True)[0]
        return vals, offset + byte_length  # parser advances by byteLength (:345)
    raise ValueError(f"unsupported topology stream encoding {enc}")


def decode_tile_genb(
    buf: bytes, tilejson: dict | None = None, columns: "set[str] | None" = None,
) -> dict[str, LayerData]:
    """Decode a gen-B tile (`CovtParser.java:53-133` flow).

    FAST_PFOR streams are read as `covt/pfor.py`'s container, the one
    wire :func:`encode_tile_genb` writes.

    ``columns`` pushes projection INTO the payload: every stream's byte
    length is in the column metadata, so unselected columns' streams
    are skipped with a cursor jump instead of decoded (the scan-level
    pruning the reference's lazy-parser roadmap targets; at 100 TB a
    geometry-only or single-property read touches a fraction of the
    tile bytes). ``columns`` names property columns plus the reserved
    ``"id"`` / ``"geometry"`` names; selected members of a shared
    (localized) dictionary group force their group leader's decode so
    the shared dictionary exists, but only selected columns appear in
    the result. Column *metadata* stays complete either way — only
    data decoding is pruned."""
    if not isinstance(buf, bytes):
        buf = bytes(buf)
    # headers are walked on the bytes (a scalar read from a numpy array
    # costs several times more); value streams decode from the array view
    b = np.frombuffer(buf, dtype=np.uint8)
    pos = 0
    out: dict[str, LayerData] = {}
    layer_list = (tilejson or {}).get("vector_layers", [])
    while pos < len(buf):
        layer_header = buf[pos]
        pos += 1
        version = layer_header >> 1
        optimized = bool(layer_header & 1)
        if version != VERSION:
            raise ValueError(f"unsupported gen-B version {version}")
        if optimized:
            layer_id, pos = decode_varint(buf, pos)
            if layer_id >= len(layer_list):
                raise ValueError("optimized metadata requires the TileJSON sidecar")
            vlayer = layer_list[layer_id]
            layer_name = vlayer["id"]
            fields = list(vlayer["fields"].keys())
        else:
            ln, pos = decode_varint(buf, pos)
            layer_name = buf[pos : pos + ln].decode("utf-8")
            pos += ln
            fields = None
        (extent, n_features, n_columns), pos = walk_varints(buf, 3, pos)

        # ---- column metadata (`:600-649`)
        # role is decided by column id / position, never by name: a feature
        # property legitimately named "id" (bing tiles have one) must not
        # shadow the id column (`CovtParser.java:71-84` dispatches by name
        # and would misparse such tiles — deliberate divergence)
        col_list: list[tuple[str, str, GDataType, GColumnType, list[tuple[StreamType, StreamEncoding, int, int]]]] = []
        for i in range(n_columns):
            role = "property"
            if optimized or i == 0:
                column_id, pos = decode_varint(buf, pos)
                if column_id == 0:
                    name, role = ID_COLUMN, "id"
                elif column_id == 1:
                    name, role = GEOMETRY_COLUMN, "geometry"
                else:
                    name = fields[column_id - 2]
            else:
                ln, pos = decode_varint(buf, pos)
                name = buf[pos : pos + ln].decode("utf-8")
                pos += ln
            desc = buf[pos]
            pos += 1
            dc, cc = (desc >> 3) & 0xF, desc & 0x7
            dtype = _GDTYPE_BY_CODE.get(dc)
            if dtype is None:  # zero-valued members are falsy: test None
                dtype = GDataType(dc)  # raises ValueError on bad codes
            ctype = _GCTYPE_BY_CODE.get(cc)
            if ctype is None:
                ctype = GColumnType(cc)
            if role == "property" and dtype == GDataType.GEOMETRY:
                role = "geometry"  # non-optimized mode names it by string
            streams: list[tuple[StreamType, StreamEncoding, int, int]] = []
            while True:
                sdesc = buf[pos]
                pos += 1
                sc, ec = sdesc >> 4, sdesc & 0xF
                stype = _STYPE_BY_CODE.get(sc)
                if stype is None:  # PRESENT==0 is falsy: test None
                    stype = StreamType(sc)  # ValueError on bad codes
                senc = _SENC_BY_CODE.get(ec)
                if senc is None:
                    senc = StreamEncoding(ec)
                (nv, bl), pos = walk_varints(buf, 2, pos)
                streams.append((stype, senc, nv, bl))
                if dtype == GDataType.GEOMETRY and stype == StreamType.VERTEX_BUFFER:
                    break
                if stype == StreamType.DATA and ctype == GColumnType.PLAIN:
                    break
                if stype == StreamType.DICTIONARY:
                    break
            col_list.append((name, role, dtype, ctype, streams))

        # ---- data section
        nb_present = (n_features + 7) // 8
        # column selection: which columns decode, and which additional
        # shared-dictionary group LEADERS must decode anyway so a
        # selected follower has its dictionary (leader = the
        # LOCALIZED_DICTIONARY column carrying the DICTIONARY stream;
        # followers attach to the most recent leader)
        if columns is None:
            decode_col = [True] * len(col_list)
            emit_col = decode_col
        else:
            emit_col = [
                (name in columns)
                if role == "property"
                else (
                    (ID_COLUMN in columns)
                    if role == "id"
                    else (GEOMETRY_COLUMN in columns)
                )
                for name, role, *_r in col_list
            ]
            decode_col = list(emit_col)
            leader_i = -1
            for i, (name, role, dtype, ctype, streams) in enumerate(col_list):
                if ctype != GColumnType.LOCALIZED_DICTIONARY:
                    continue
                # leader = non-empty DICTIONARY stream; followers carry
                # an EMPTY (nv=0) DICTIONARY marker (`:720`)
                if any(
                    s[0] == StreamType.DICTIONARY and s[2] > 0 for s in streams
                ):
                    leader_i = i
                elif emit_col[i] and leader_i >= 0:
                    decode_col[leader_i] = True

        ids = None
        shared_dict: list[str] | None = None
        geometry = None
        properties: dict[str, PropertyColumn] = {}
        n_bytes = (n_features + 7) // 8
        col_metas: list[ColumnMetadata] = []
        for ci, (name, role, dtype, ctype, streams) in enumerate(col_list):
            if not decode_col[ci]:
                pos = _skip_column_data(buf, pos, role, dtype, streams, nb_present)
            elif role == "id":
                stype, senc, nv, bl = streams[0]
                if senc == StreamEncoding.RLE:
                    vals, pos = decode_int_rle(b, nv, pos, signed=False)
                    ids = vals.astype(np.int64)
                elif senc == StreamEncoding.VARINT:
                    vals, pos = decode_varints(b, nv, pos)
                    ids = vals.astype(np.int64)
                elif senc == StreamEncoding.VARINT_DELTA_ZIG_ZAG:
                    vals, pos = decode_zigzag_varints(b, nv, pos)
                    ids = np.cumsum(vals, dtype=np.int64)
                else:
                    raise ValueError(f"unsupported id encoding {senc}")
            elif role == "geometry":
                geometry, pos = _decode_geometry(b, pos, ctype, streams, extent)
            else:
                prop, pos = _decode_property(b, pos, dtype, ctype, streams, n_features, n_bytes)
                if ctype == GColumnType.LOCALIZED_DICTIONARY:
                    if prop.dictionary is not None:
                        shared_dict = prop.dictionary  # group leader
                    else:
                        prop.dictionary = shared_dict  # follower shares it
                if emit_col[ci]:
                    properties[name] = prop
            col_metas.append(
                ColumnMetadata(
                    name=name,
                    data_type=_TO_GENA.get(dtype, ColumnDataType.GEOMETRY),
                    encoding=GenAEncoding.PLAIN,
                    streams={
                        _STYPE_NAME[st]: StreamMetadata(nv, bl)
                        for st, _, nv, bl in streams
                    },
                )
            )

        out[layer_name] = LayerData(
            metadata=LayerMetadata(name=layer_name, num_features=n_features, columns=col_metas),
            ids=ids,
            geometry=geometry,
            properties=properties,
        )
    return out


def _skip_column_data(
    buf: bytes, pos: int, role: str, dtype: "GDataType",
    streams: list, n_bytes: int,
) -> int:
    """Cursor-jump one column's data section: the implicit present
    byte-RLE first for non-boolean properties (`:295` — absent from the
    stream metadata), then the declared streams' recorded byte lengths."""
    from cov_tiles_spark.covt.rle import skip_byte_rle

    if role == "property" and dtype != GDataType.BOOLEAN:
        pos = skip_byte_rle(buf, n_bytes, pos)
    return pos + sum(s[3] for s in streams)




def _decode_geometry(
    b: np.ndarray, pos: int, ctype: GColumnType,
    streams: list[tuple[StreamType, StreamEncoding, int, int]], extent: int,
) -> tuple[GeometryColumn, int]:
    """`CovtParser.java:392-511` — streams arrive in StreamType order."""
    types = None
    geometry_offsets = part_offsets = ring_offsets = vertex_offsets = None
    vertex_buffer = None
    bits = 13 if extent == 4096 else 14
    for stype, senc, nv, bl in streams:
        if stype == StreamType.GEOMETRY_TYPES:
            raw, pos = decode_byte_rle(b, nv, pos)
            types = raw.astype(np.uint8)
        elif stype in (StreamType.GEOMETRY_OFFSETS, StreamType.PART_OFFSETS, StreamType.RING_OFFSETS):
            vals, pos = _decode_stream_ints(b, pos, senc, nv, bl)
            arr = vals.astype(np.int64)
            if stype == StreamType.GEOMETRY_OFFSETS:
                geometry_offsets = arr
            elif stype == StreamType.PART_OFFSETS:
                part_offsets = arr
            else:
                ring_offsets = arr
        elif stype == StreamType.VERTEX_OFFSETS:
            if senc == StreamEncoding.VARINT_DELTA_ZIG_ZAG:
                deltas, pos = decode_zigzag_varints(b, nv, pos)
                vertex_offsets = np.cumsum(deltas, dtype=np.int64)
            elif senc == StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG:
                vertex_offsets = decode_pfor(b, nv, pos, zigzag=True, delta=True)[0]
                pos += bl
            else:
                raise ValueError(f"unsupported vertex_offsets encoding {senc}")
        elif stype == StreamType.VERTEX_BUFFER:
            if ctype == GColumnType.ICE_MORTON_CODE:
                # sorted morton codes, delta without zigzag (`:394-409, 411-444`)
                if senc == StreamEncoding.VARINT_DELTA_ZIG_ZAG:
                    deltas, pos = decode_varints(b, nv, pos)
                    codes = np.cumsum(deltas.astype(np.int64), dtype=np.int64)
                elif senc == StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG:
                    deltas = decode_pfor(b, nv, pos, zigzag=False, delta=False)[0]
                    codes = np.cumsum(deltas, dtype=np.int64)
                    pos += bl
                else:
                    raise ValueError(f"unsupported morton encoding {senc}")
                x, y = morton_decode(codes.astype(np.uint64), extent * 2)
                vertex_buffer = np.empty(nv * 2, dtype=np.int32)
                vertex_buffer[0::2] = x.astype(np.int32)
                vertex_buffer[1::2] = y.astype(np.int32)
            else:
                if senc == StreamEncoding.VARINT_DELTA_ZIG_ZAG:
                    deltas, pos = decode_zigzag_varints(b, nv * 2, pos)
                elif senc == StreamEncoding.FAST_PFOR_DELTA_ZIG_ZAG:
                    zz = decode_pfor(b, nv * 2, pos, zigzag=False, delta=False)[0]
                    from cov_tiles_spark.covt.varint import zigzag_decode

                    deltas = zigzag_decode(zz.astype(np.uint64))
                    pos += bl
                else:
                    raise ValueError(f"unsupported vertex buffer encoding {senc}")
                vertex_buffer = _undo_interleaved_delta(deltas).astype(np.int32)
        else:
            raise ValueError(f"unexpected geometry stream {stype}")

    if vertex_offsets is not None:
        # resolve ICE indices to a flat per-vertex buffer so downstream
        # consumers see the same shape as PLAIN (CovtParser resolves at
        # JTS-construction time, `:160-266`)
        flat = np.empty(len(vertex_offsets) * 2, dtype=np.int32)
        flat[0::2] = vertex_buffer[0::2][vertex_offsets]
        flat[1::2] = vertex_buffer[1::2][vertex_offsets]
        vertex_buffer = flat
    return (
        GeometryColumn(
            geometry_types=types,
            vertex_buffer=vertex_buffer,
            geometry_offsets=geometry_offsets,
            part_offsets=part_offsets,
            ring_offsets=ring_offsets,
        ),
        pos,
    )


def _decode_property(
    b: np.ndarray, pos: int, dtype: GDataType, ctype: GColumnType,
    streams: list[tuple[StreamType, StreamEncoding, int, int]],
    n_features: int, n_bytes: int,
) -> tuple[PropertyColumn, int]:
    """`CovtParser.java:276-367`."""
    meta = {st: (se, nv, bl) for st, se, nv, bl in streams}
    if dtype == GDataType.BOOLEAN:
        _, nv, bl = meta[StreamType.DATA]
        raw, pos = decode_byte_rle(b, n_bytes, pos)
        dense = unpack_bitset(raw, n_features)
        # gen-B booleans are merged dense (absent -> false) with no present
        # stream (`CovtParser.java:280-290`): expose an all-present mask
        return (
            PropertyColumn(
                data_type=ColumnDataType.BOOLEAN,
                present=np.ones(n_features, dtype=bool),
                data=dense,
            ),
            pos,
        )

    raw, pos = decode_byte_rle(b, n_bytes, pos)  # implicit present stream (:295)
    present = unpack_bitset(raw, n_features)

    if dtype in (GDataType.INT_64, GDataType.UINT_64):
        senc, nv, bl = meta[StreamType.DATA]
        if senc == StreamEncoding.RLE:
            vals, pos = decode_int_rle(b, nv, pos, signed=True)
            data = vals.astype(np.int64)
        elif senc == StreamEncoding.VARINT_ZIG_ZAG:
            data, pos = decode_zigzag_varints(b, nv, pos)
        elif senc == StreamEncoding.VARINT_DELTA_ZIG_ZAG:
            deltas, pos = decode_zigzag_varints(b, nv, pos)
            data = np.cumsum(deltas, dtype=np.int64)
        else:
            raise ValueError(f"unsupported long encoding {senc}")
        return (
            PropertyColumn(data_type=ColumnDataType.INT_64, present=present, data=data),
            pos,
        )
    if dtype == GDataType.FLOAT:
        _, nv, bl = meta[StreamType.DATA]
        if pos + nv * 4 > b.shape[0]:
            raise ValueError("buffer exhausted: float stream runs past the tile")
        data = b[pos : pos + nv * 4].view("<f4").copy()
        return (
            PropertyColumn(data_type=ColumnDataType.FLOAT, present=present, data=data),
            pos + nv * 4,
        )
    if dtype == GDataType.STRING:
        if ctype not in (GColumnType.DICTIONARY, GColumnType.LOCALIZED_DICTIONARY):
            raise ValueError("only dictionary strings supported (parser parity, :342)")
        _, nv_data, _ = meta[StreamType.DATA]
        _, nv_dict, _ = meta[StreamType.DICTIONARY]
        idx, pos = decode_int_rle(b, nv_data, pos, signed=False)
        if nv_dict == 0:
            # localized follower: empty marker, shares the group leader's
            # dictionary (attached by the caller)
            return (
                PropertyColumn(
                    data_type=ColumnDataType.STRING,
                    present=present,
                    data=idx.astype(np.int64),
                    dictionary=None,
                ),
                pos,
            )
        lengths, pos = decode_int_rle(b, nv_dict, pos, signed=False)
        # one numpy slice for the whole dictionary region, then cheap
        # python bytes slicing per word — a numpy slice + tobytes PER
        # WORD paid the ~µs ndarray-view setup 4k times per omt tile
        # (the CLAUDE.md per-small-item rule; measured on omt/5_16_20)
        ends = np.cumsum(lengths.astype(np.int64)).tolist()
        total = ends[-1] if ends else 0
        if pos + total > b.shape[0]:
            raise ValueError("buffer exhausted: dictionary runs past the tile")
        blob = b[pos : pos + total].tobytes()
        pos += total
        words: list[str] = []
        s = 0
        for e in ends:
            words.append(blob[s:e].decode("utf-8"))
            s = e
        return (
            PropertyColumn(
                data_type=ColumnDataType.STRING,
                present=present,
                data=idx.astype(np.int64),
                dictionary=words,
            ),
            pos,
        )
    raise ValueError(f"unsupported property data type {dtype}")
