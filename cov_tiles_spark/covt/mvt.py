"""Minimal Mapbox Vector Tile (MVT 2.1) reader — conformance oracle side.

Implemented from the public vector-tile spec (protobuf schema
``vector_tile.proto``); behavior mirrors what the reference's test oracle
uses (`/root/reference/parser/js/src/mvtUtils.ts:15-38`, which delegates to
@mapbox/vector-tile's ``loadGeometry()``):

- geometry is returned as a list of lines/rings of (x, y) tuples,
- a MoveTo command starts a new line (one line per point for multipoints),
- ClosePath appends a copy of the ring's first vertex,
- coordinate deltas are zigzag varints, cumulative across the whole
  feature geometry.

Pure Python over the raw ``bytes`` throughout: protobuf tiles are walked
byte-at-a-time with mostly tiny per-feature payloads (2-20 varints), where
python int reads (~40 ns) beat numpy scalar indexing (~150 ns) and
per-feature vectorized calls (~35 µs setup) by 1-2 orders of magnitude —
measured 0.2 -> 2.3 ops/s on omt/5_16_20 (pinned single core).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from cov_tiles_spark.covt.encoder import first_occurrence_codes
from cov_tiles_spark.covt.varint import (
    decode_varint,
    encode_varint,
    varint_len,
    varint_len_vec,
)


@dataclass
class MvtFeature:
    id: int | None
    geom_type: int  # 1=POINT 2=LINESTRING 3=POLYGON
    geometry: list[list[tuple[int, int]]]
    properties: dict[str, Any] = field(default_factory=dict)


@dataclass
class MvtLayer:
    name: str
    extent: int
    version: int
    features: list[MvtFeature] = field(default_factory=list)


def _read_key(buf: bytes, offset: int) -> tuple[int, int, int]:
    key, offset = decode_varint(buf, offset)
    return key >> 3, key & 0x7, offset


def _skip(buf: bytes, offset: int, wire: int) -> int:
    if wire == 0:
        _, offset = decode_varint(buf, offset)
        return offset
    if wire == 1:
        return offset + 8
    if wire == 2:
        ln, offset = decode_varint(buf, offset)
        return offset + ln
    if wire == 5:
        return offset + 4
    raise ValueError(f"unsupported wire type {wire}")


def _decode_value(buf: bytes, start: int, end: int) -> Any:
    offset = start
    while offset < end:
        fid, wire, offset = _read_key(buf, offset)
        if fid == 1:  # string
            ln, offset = decode_varint(buf, offset)
            return buf[offset : offset + ln].decode("utf-8")
        if fid == 2:  # float32
            if offset + 4 > end:
                raise ValueError("malformed MVT: float value overrun")
            return struct.unpack_from("<f", buf, offset)[0]
        if fid == 3:  # double
            if offset + 8 > end:
                raise ValueError("malformed MVT: double value overrun")
            return struct.unpack_from("<d", buf, offset)[0]
        if fid == 4:  # int64
            v, offset = decode_varint(buf, offset)
            return v - (1 << 64) if v >= (1 << 63) else v
        if fid == 5:  # uint64
            v, offset = decode_varint(buf, offset)
            return v
        if fid == 6:  # sint64 (zigzag)
            v, offset = decode_varint(buf, offset)
            return (v >> 1) ^ -(v & 1)
        if fid == 7:  # bool
            v, offset = decode_varint(buf, offset)
            return bool(v)
        offset = _skip(buf, offset, wire)
    return None


def _load_geometry(
    buf: bytes, offset: int, seg_end: int
) -> list[list[tuple[int, int]]]:
    """vector-tile-js loadGeometry() semantics over the command stream.

    Walks the packed-varint geometry field directly (no intermediate
    array): zigzag deltas are cumulative across the whole feature; MoveTo
    starts a new line per point; ClosePath re-appends the first vertex.
    """
    lines: list[list[tuple[int, int]]] = []
    line: list[tuple[int, int]] | None = None
    x = y = 0
    while offset < seg_end:
        v, offset = decode_varint(buf, offset)
        cmd = v & 0x7
        count = v >> 3
        if cmd == 1:  # MoveTo: each point starts a new line
            for _ in range(count):
                dx, offset = decode_varint(buf, offset)
                dy, offset = decode_varint(buf, offset)
                x += (dx >> 1) ^ -(dx & 1)
                y += (dy >> 1) ^ -(dy & 1)
                if line is not None:
                    lines.append(line)
                line = [(x, y)]
        elif line is None:  # LineTo or ClosePath with no current point
            raise ValueError(f"malformed MVT: command {cmd} before any MoveTo")
        elif cmd == 2:  # LineTo
            for _ in range(count):
                dx, offset = decode_varint(buf, offset)
                dy, offset = decode_varint(buf, offset)
                x += (dx >> 1) ^ -(dx & 1)
                y += (dy >> 1) ^ -(dy & 1)
                line.append((x, y))
        elif cmd == 7:  # ClosePath
            line.append(line[0])
        else:
            raise ValueError(f"unknown geometry command {cmd}")
    if offset != seg_end:  # last param varint straddled the boundary
        raise ValueError("malformed MVT: geometry segment overrun")
    if line is not None:
        lines.append(line)
    return lines


def _decode_feature(
    buf: bytes, start: int, end: int
) -> tuple[int | None, int, list, list[int]]:
    offset = start
    fid_val: int | None = None
    gtype = 0
    tags: list[int] = []
    geometry: list[list[tuple[int, int]]] = []
    while offset < end:
        fid, wire, offset = _read_key(buf, offset)
        if fid == 1:
            fid_val, offset = decode_varint(buf, offset)
        elif fid == 2:  # packed tags
            ln, offset = decode_varint(buf, offset)
            seg_end = offset + ln
            while offset < seg_end:
                v, offset = decode_varint(buf, offset)
                tags.append(v)
            if offset != seg_end:  # last varint straddled the boundary
                raise ValueError("malformed MVT: tag segment overrun")
        elif fid == 3:
            gtype, offset = decode_varint(buf, offset)
        elif fid == 4:  # packed geometry
            ln, offset = decode_varint(buf, offset)
            geometry = _load_geometry(buf, offset, offset + ln)
            offset += ln
        else:
            offset = _skip(buf, offset, wire)
    if offset != end:
        raise ValueError("malformed MVT: feature field overrun")
    return fid_val, gtype, geometry, tags


def _decode_layer(buf: bytes, start: int, end: int) -> MvtLayer:
    offset = start
    name = ""
    extent = 4096
    version = 1
    keys: list[str] = []
    values: list[Any] = []
    feature_spans: list[tuple[int, int]] = []
    while offset < end:
        fid, wire, offset = _read_key(buf, offset)
        if fid == 1:
            ln, offset = decode_varint(buf, offset)
            name = buf[offset : offset + ln].decode("utf-8")
            offset += ln
        elif fid == 2:
            ln, offset = decode_varint(buf, offset)
            feature_spans.append((offset, offset + ln))
            offset += ln
        elif fid == 3:
            ln, offset = decode_varint(buf, offset)
            keys.append(buf[offset : offset + ln].decode("utf-8"))
            offset += ln
        elif fid == 4:
            ln, offset = decode_varint(buf, offset)
            values.append(_decode_value(buf, offset, offset + ln))
            offset += ln
        elif fid == 5:
            extent, offset = decode_varint(buf, offset)
        elif fid == 15:
            version, offset = decode_varint(buf, offset)
        else:
            offset = _skip(buf, offset, wire)
    if offset != end:
        raise ValueError("malformed MVT: layer field overrun")

    layer = MvtLayer(name=name, extent=extent, version=version)
    for f_start, f_end in feature_spans:
        fid_val, gtype, geometry, tags = _decode_feature(buf, f_start, f_end)
        props = {}
        try:
            for i in range(0, len(tags), 2):
                v = values[tags[i + 1]]
                if v is not None:
                    props[keys[tags[i]]] = v
        except IndexError:  # odd tag count, or an index past the tables
            raise ValueError("malformed MVT: feature tag out of range") from None
        layer.features.append(MvtFeature(fid_val, gtype, geometry, props))
    return layer


def decode_mvt(tile: bytes) -> list[MvtLayer]:
    """Decode an MVT tile into layers of features."""
    buf = bytes(tile)  # accept bytearray/memoryview/np views
    offset = 0
    n = len(buf)
    layers: list[MvtLayer] = []
    while offset < n:
        fid, wire, offset = _read_key(buf, offset)
        if fid == 3 and wire == 2:
            ln, offset = decode_varint(buf, offset)
            if offset + ln > n:
                raise ValueError("buffer exhausted: truncated MVT layer")
            layers.append(_decode_layer(buf, offset, offset + ln))
            offset += ln
        else:
            offset = _skip(buf, offset, wire)
    if offset != n:
        raise ValueError("buffer exhausted: truncated MVT field")
    return layers


# ---------- minimal MVT writer (benchmark baseline) ----------
#
# Emits spec-valid MVT 2.1 bytes for point/linestring/polygon features.
# Used only as the row-oriented *baseline encoding* our per-zoom
# compression ratios are measured against (BASELINE.md methodology:
# reduction = 1 - covt_size/mvt_size, CovtConverterTest.java:285).

def _key(field_id: int, wire: int) -> bytes:
    return encode_varint((field_id << 3) | wire)


def _ld(field_id: int, payload: bytes) -> bytes:
    return _key(field_id, 2) + encode_varint(len(payload)) + payload


def _zz(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _encode_value(v: Any) -> bytes:
    if isinstance(v, bool):
        return _key(7, 0) + encode_varint(int(v))
    if isinstance(v, (int, np.integer)):
        if v >= 0:
            return _key(5, 0) + encode_varint(int(v))
        return _key(6, 0) + encode_varint(_zz(int(v)))
    if isinstance(v, (float, np.floating)):
        return _key(2, 5) + struct.pack("<f", float(v))
    return _ld(1, str(v).encode("utf-8"))


def encode_mvt_layer(
    name: str,
    features: list[dict],
    extent: int = 4096,
) -> bytes:
    """features: [{id, geom_type (1|2|3), parts: [[(x,y),...]], properties}]."""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    values: list[bytes] = []
    value_idx: dict[bytes, int] = {}

    feats = bytearray()
    for f in features:
        tags = bytearray()
        for k, v in (f.get("properties") or {}).items():
            ki = key_idx.get(k)
            if ki is None:
                ki = len(keys)
                key_idx[k] = ki
                keys.append(k)
            vb = _encode_value(v)
            vi = value_idx.get(vb)
            if vi is None:
                vi = len(values)
                value_idx[vb] = vi
                values.append(vb)
            tags += encode_varint(ki) + encode_varint(vi)

        geom = bytearray()
        cx = cy = 0
        gtype = f["geom_type"]
        for part in f["parts"]:
            pts = part
            closed = gtype == 3 and len(pts) > 1 and pts[0] == pts[-1]
            if closed:
                pts = pts[:-1]
            geom += encode_varint((1 << 3) | 1)  # MoveTo count=1
            geom += encode_varint(_zz(pts[0][0] - cx))
            geom += encode_varint(_zz(pts[0][1] - cy))
            cx, cy = pts[0]
            rest = pts[1:]
            if rest:
                geom += encode_varint((len(rest) << 3) | 2)  # LineTo
                for px, py in rest:
                    geom += encode_varint(_zz(px - cx))
                    geom += encode_varint(_zz(py - cy))
                    cx, cy = px, py
            if gtype == 3:
                geom += encode_varint(7)  # ClosePath

        body = bytearray()
        if f.get("id") is not None:
            body += _key(1, 0) + encode_varint(int(f["id"]))
        if tags:
            body += _ld(2, bytes(tags))
        body += _key(3, 0) + encode_varint(gtype)
        body += _ld(4, bytes(geom))
        feats += _ld(2, bytes(body))

    layer = bytearray()
    layer += _key(15, 0) + encode_varint(2)  # version
    layer += _ld(1, name.encode("utf-8"))
    layer += bytes(feats)
    for k in keys:
        layer += _ld(3, k.encode("utf-8"))
    for vb in values:
        layer += _ld(4, vb)
    layer += _key(5, 0) + encode_varint(extent)
    return _ld(3, bytes(layer))


def encode_mvt(layers: list[tuple[str, list[dict], int]]) -> bytes:
    """Full tile: [(name, features, extent), ...] -> MVT bytes."""
    return b"".join(encode_mvt_layer(n, f, e) for n, f, e in layers)


def mvt_point_layer_size(
    name: str,
    ids: np.ndarray | None,
    xs: np.ndarray,
    ys: np.ndarray,
    properties: dict[str, np.ndarray],
    extent: int = 4096,
) -> int:
    """Exact ``len(encode_mvt([(name, feats, extent)]))`` for a layer of
    single-point features, computed arithmetically — no byte
    materialization (the per-value Python varint writer was 87% of the
    flagship encode kernel's profile, only to take ``len()`` of the
    result).

    Mirrors :func:`encode_mvt_layer` byte-for-byte: shared key/value
    tables in interleaved first-appearance order (value identity dedups
    ACROSS columns — e.g. w == h == 32 share one table entry, exactly as
    the byte-keyed ``value_idx`` dict does), per-feature zigzag deltas
    from (0, 0), and identical protobuf framing. Property columns are
    int64 arrays or object arrays of str, each dictionary-coded once by
    :func:`first_occurrence_codes`; varint lengths are one numpy call per
    array (:func:`varint_len_vec`) or scalar int arithmetic. Verified
    equal to the real writer in tests/test_transcode.py.
    """
    n = len(xs)
    cols = list(properties.items())
    ncols = len(cols)

    # --- shared value table: per-column first-occurrence codes, then a
    # global dedup in interleaved first-appearance order (sequence pos =
    # first_row*C + j)
    int_vals: list[np.ndarray] = []
    int_pos: list[np.ndarray] = []
    str_entries: list[tuple[str, int]] = []  # (value, pos)
    col_codes: list[np.ndarray] = []
    col_kind: list[str] = []
    col_uniq: list[np.ndarray] = []
    for j, (_k, arr) in enumerate(cols):
        is_str = arr.dtype == object
        codes, uniques = first_occurrence_codes(
            arr if is_str else np.asarray(arr, dtype=np.int64)
        )
        # codes count up in first-appearance order, so a unique's first
        # row is where the running max of the codes steps up
        first = np.flatnonzero(np.diff(np.maximum.accumulate(codes), prepend=-1))
        if is_str:
            str_entries.extend(zip(uniques.tolist(), (first * ncols + j).tolist()))
            col_kind.append("str")
        else:
            int_vals.append(uniques)
            int_pos.append(first * ncols + j)
            col_kind.append("int")
        col_uniq.append(uniques)
        col_codes.append(codes)

    # dedup int values across columns, keeping the earliest position
    if int_vals:
        av = np.concatenate(int_vals)
        ap = np.concatenate(int_pos)
        order = np.lexsort((ap, av))
        sv, sp = av[order], ap[order]
        keep = np.ones(len(sv), dtype=bool)
        keep[1:] = sv[1:] != sv[:-1]
        dedup_vals, dedup_pos = sv[keep], sp[keep]
    else:
        dedup_vals = np.empty(0, dtype=np.int64)
        dedup_pos = np.empty(0, dtype=np.int64)
    sdict: dict[str, int] = {}
    for s, pos in str_entries:
        if s not in sdict or pos < sdict[s]:
            sdict[s] = pos
    s_list = list(sdict.items())

    # final table order = ascending first-appearance position
    all_pos = np.concatenate(
        [dedup_pos, np.array([p for _, p in s_list], dtype=np.int64)]
    )
    vi_all = np.empty(len(all_pos), dtype=np.int64)
    vi_all[np.argsort(all_pos, kind="stable")] = np.arange(len(all_pos))
    vi_int = vi_all[: len(dedup_vals)]
    vi_str = {s: int(vi_all[len(dedup_vals) + i]) for i, (s, _) in enumerate(s_list)}

    # --- per-row tag varint lengths (key index < 16 -> always 1 byte)
    tags_len = np.full(n, ncols, dtype=np.int64)
    for j in range(ncols):
        if col_kind[j] == "int":
            col_vi = vi_int[np.searchsorted(dedup_vals, col_uniq[j])]
        else:
            col_vi = np.array([vi_str[s] for s in col_uniq[j]], dtype=np.int64)
        tags_len += varint_len_vec(col_vi)[col_codes[j]]

    # --- per-feature geometry and body framing
    zz_x = (xs.astype(np.int64) << 1) ^ (xs.astype(np.int64) >> 63)
    zz_y = (ys.astype(np.int64) << 1) ^ (ys.astype(np.int64) >> 63)
    geom_len = 1 + varint_len_vec(zz_x) + varint_len_vec(zz_y)
    tags_part = (
        1 + varint_len_vec(tags_len) + tags_len if ncols else np.int64(0)
    )
    body = tags_part + 2 + (1 + varint_len_vec(geom_len) + geom_len)
    if ids is not None:
        body = body + 1 + varint_len_vec(np.asarray(ids, dtype=np.int64))
    feats_total = int((1 + varint_len_vec(body) + body).sum())

    # --- key/value table sections
    keys_total = 0
    for k, _ in cols:
        kb = len(k.encode("utf-8"))
        keys_total += 1 + varint_len(kb) + kb
    neg = dedup_vals < 0
    enc = np.where(
        neg, (dedup_vals << 1) ^ (dedup_vals >> 63), dedup_vals
    )
    int_vb = 1 + varint_len_vec(enc)
    values_total = int((1 + varint_len_vec(int_vb) + int_vb).sum())
    for s, _ in s_list:
        sb = len(s.encode("utf-8"))
        vb = 1 + varint_len(sb) + sb
        values_total += 1 + varint_len(vb) + vb

    name_b = len(name.encode("utf-8"))
    layer_len = (
        2
        + (1 + varint_len(name_b) + name_b)
        + feats_total
        + keys_total
        + values_total
        + 1
        + varint_len(extent)
    )
    return 1 + varint_len(layer_len) + layer_len
