"""Point-in-polygon spatial join.

Strategy (SURVEY.md §2.3 "J-absent" row): candidates come from a cheap
**cell-equi join** on (z, x, y) with the small boundary side broadcast,
and the exact containment test is a **vectorized even-odd ray cast** over
the candidate pairs, run once per tile within each Arrow batch, not once
per row.

The boundary geometry uses the reference's struct-of-arrays model
(`layerTable.ts:26-33`): part_offsets = rings per polygon, ring_offsets =
vertices per ring (counts, not offsets, `covtDecoder.ts:176,187`), rings
stored open (`CovtConverter.java:727-733`). Ring 0 is the shell; further
rings are holes — even-odd handles both in one pass.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_rings_np(
    px: np.ndarray,
    py: np.ndarray,
    ring_lengths: np.ndarray,
    vertex_buffer: np.ndarray,
) -> np.ndarray:
    """Vectorized even-odd ray cast: (n points) x (all rings' edges).

    ``vertex_buffer`` is interleaved x,y of all rings concatenated (open
    rings). Returns a boolean per point. O(points * edges) numpy ops —
    per-tile boundary polygons have a handful of edges, so this is the
    right trade (no per-point Python).
    """
    vb = np.asarray(vertex_buffer, dtype=np.float64)
    xs = vb[0::2]
    ys = vb[1::2]
    n_pts = px.shape[0]
    inside = np.zeros(n_pts, dtype=bool)
    start = 0
    for rl in np.asarray(ring_lengths, dtype=np.int64):
        rx = xs[start : start + rl]
        ry = ys[start : start + rl]
        start += rl
        x1, y1 = rx, ry
        x2 = np.roll(rx, -1)
        y2 = np.roll(ry, -1)
        # edge crosses the horizontal ray from (px, py) to +inf?
        cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = x1[None, :] + (py[:, None] - y1[None, :]) / (
                y2[None, :] - y1[None, :]
            ) * (x2[None, :] - x1[None, :])
        crossings = (cond & (px[:, None] < x_int)).sum(axis=1)
        inside ^= (crossings % 2).astype(bool)
    return inside


PIP_RESULT_EXTRA = "inside boolean"


def pip_join_broadcast(points: DataFrame, boundaries: DataFrame) -> DataFrame:
    """points(z,x,y,local_x,local_y,...) ⋈ boundaries(z,x,y,boundary).

    Returns the point rows + ``inside`` flag. The boundary SoA arrays
    join onto point rows (small dim side broadcast by AQE/hint), then a
    batch-vectorized refine in ``mapInPandas`` groups rows by tile
    *within each Arrow batch* — no cogroup shuffle, no per-tile protocol
    overhead (a cogrouped applyInPandas pays ~6 ms per group; see
    pipeline/materialize.py). Tile boundaries fit in a broadcast: one
    small polygon per tile.
    """
    flat = boundaries.select(
        "z", "x", "y",
        F.col("boundary.ring_offsets").alias("_ring_offsets"),
        F.col("boundary.vertex_buffer").alias("_vertex_buffer"),
    )
    joined = points.join(F.broadcast(flat), ["z", "x", "y"], "left")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in points.schema.fields
    ) + ", " + PIP_RESULT_EXTRA

    point_cols = [f.name for f in points.schema.fields]

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            inside = np.zeros(len(pdf), dtype=bool)
            has_b = pdf["_ring_offsets"].notna().to_numpy()
            # group rows by tile within the batch: one ray cast per tile
            keys = pdf[["z", "x", "y"]].to_numpy(np.int64)
            order = np.lexsort((keys[:, 2], keys[:, 1], keys[:, 0]))
            sk = keys[order]
            change = np.empty(len(pdf), dtype=bool)
            change[0] = True
            change[1:] = (np.diff(sk, axis=0) != 0).any(axis=1)
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], len(pdf))
            for s, e in zip(starts.tolist(), ends.tolist()):
                rows = order[s:e]
                if not has_b[rows[0]]:
                    continue
                b_rings = np.asarray(pdf["_ring_offsets"].iloc[rows[0]], np.int64)
                b_verts = np.asarray(pdf["_vertex_buffer"].iloc[rows[0]], np.int64)
                inside[rows] = point_in_rings_np(
                    pdf["local_x"].to_numpy(np.float64)[rows],
                    pdf["local_y"].to_numpy(np.float64)[rows],
                    b_rings,
                    b_verts,
                )
            out = pdf[point_cols].copy()
            out["inside"] = inside
            yield out

    return joined.mapInPandas(refine, schema=out_schema)
