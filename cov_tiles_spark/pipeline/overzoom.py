"""Overzoom: serve a z+1 tile from its z parent's payload — the
standard tile-server fallback when the pyramid isn't materialized past
some depth (maxzoom tilesets are served overzoomed beyond it; reference
tilesets stop at z14 for exactly this consumption pattern).

Each parent feature maps to exactly one child quadrant, and the
membership test is EXACT: the parent's local coordinate is
``floor(frac * extent)`` of the true position, and with an even extent
``floor(frac * extent) >= extent/2  <=>  frac >= 1/2`` — the same bit
that picks the child tile. Coordinates are scaled 2x into the child
frame and carry the parent's quantization (off by at most 1 child unit
vs direct materialization — pinned by test); properties and ids pass
through unchanged.

Distributed shape: one ``mapInPandas`` over payload rows — each parent
decodes once and emits up to 4 child payloads; no shuffle at all (child
tiles of one parent are derived in-place), so overzooming a whole
archive is a map-only job.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from cov_tiles_spark.covt.decoder import GeometryColumn, decode_covt
from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput, encode_tile
from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType
from cov_tiles_spark.rows import map_rows
from cov_tiles_spark.spatial.tiling import DEFAULT_EXTENT

PAYLOAD_SCHEMA = "z int, x int, y int, num_features long, payload binary"


def _slice_property(col, m: np.ndarray) -> PropertyInput:
    """Re-encodable PropertyInput for the feature subset ``m`` of a
    decoded PropertyColumn (data is SPARSE per present feature except
    BOOLEAN; strings are dictionary indices)."""
    present = (
        col.present.astype(bool)
        if col.present is not None
        else np.ones(len(m), dtype=bool)
    )
    pm = present[m]
    if col.data_type == ColumnDataType.BOOLEAN:
        return PropertyInput(col.data_type, col.data[m][pm], present=pm)
    sparse_pos = np.cumsum(present) - 1
    sel = sparse_pos[m & present]
    if col.data_type == ColumnDataType.STRING:
        values = np.asarray(col.dictionary, dtype=object)[col.data[sel]]
    else:
        values = col.data[sel]
    return PropertyInput(col.data_type, values, present=pm)


def overzoom_tile(
    payload: bytes, z: int, x: int, y: int
) -> list[tuple[int, int, int, int, bytes]]:
    """One parent payload -> up to 4 (z+1, x, y, n_features, payload).

    Point layers only (the corpus pipeline's shape); per-quadrant
    vectorized split, empty quadrants emit nothing. Gen-A payloads record
    no extent, so parent and children are on the pipeline's
    ``DEFAULT_EXTENT`` grid (the ``LayerInput`` default)."""
    extent = DEFAULT_EXTENT
    half = extent // 2
    layers = decode_covt(payload)
    out: dict[tuple[int, int], list[LayerInput]] = {}
    for name, lay in layers.items():
        geom = lay.geometry
        if not np.all(geom.geometry_types == GeometryType.POINT):
            raise NotImplementedError(
                "overzoom currently supports point layers"
            )
        vx = geom.vertex_buffer[0::2].astype(np.int64)
        vy = geom.vertex_buffer[1::2].astype(np.int64)
        ids = lay.ids
        for qx in (0, 1):
            for qy in (0, 1):
                m = ((vx >= half) == bool(qx)) & ((vy >= half) == bool(qy))
                n = int(m.sum())
                if n == 0:
                    continue
                cvx = vx[m] * 2 - qx * extent
                cvy = vy[m] * 2 - qy * extent
                vb = np.empty(2 * n, dtype=np.int32)
                vb[0::2] = cvx
                vb[1::2] = cvy
                props = {
                    pname: _slice_property(col, m)
                    for pname, col in lay.properties.items()
                }
                out.setdefault((qx, qy), []).append(
                    LayerInput(
                        name=name,
                        ids=ids[m] if ids is not None else None,
                        geometry=GeometryColumn(
                            geometry_types=np.full(
                                n, GeometryType.POINT, np.uint8
                            ),
                            vertex_buffer=vb,
                        ),
                        properties=props,
                    )
                )
    results = []
    for (qx, qy), layer_inputs in sorted(out.items()):
        child = encode_tile(layer_inputs)
        nf = sum(
            li.geometry.geometry_types.shape[0] for li in layer_inputs
        )
        results.append((z + 1, 2 * x + qx, 2 * y + qy, nf, child))
    return results


def overzoom_tiles(payloads: DataFrame) -> DataFrame:
    """Distributed overzoom: every payload row -> its child payload rows
    (map-only; no exchange)."""

    def kernel(payload, z, x, y):
        return overzoom_tile(bytes(payload), int(z), int(x), int(y))

    return map_rows(
        payloads, PAYLOAD_SCHEMA, ("payload", "z", "x", "y"),
        ("z", "x", "y", "num_features", "payload"), kernel,
    )
