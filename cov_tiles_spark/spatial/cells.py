"""Spatial cell indexes: S2-level-13 analogue (Hilbert) and H3-res-9
analogue (hex axial binning) — from-scratch, vectorized numpy inside
Arrow-batched pandas UDFs (no per-row Python).

Per SURVEY.md §7.0: the sandbox has no h3/s2 libraries and the north_rule
demands from-scratch implementations, so:

- ``cell_s2l13``: Hilbert index at 13 bits/dim over the web-mercator unit
  square — the same Hilbert math as the reference's
  `GeometryUtils.java:8-21`, applied at planet scale. Like real S2 cells,
  ids are hierarchical under the curve (prefix property along the Hilbert
  order) and equal-area on the mercator plane.
- ``cell_h3r9``: pointy-top hexagon axial binning on the mercator plane
  with edge length matched to H3 res-9 (~174 m at the equator). Like real
  H3, each point maps to exactly one hexagon and neighbor lookup is O(1)
  in axial coordinates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from cov_tiles_spark.covt.sfc import hilbert_xy2d
from cov_tiles_spark.spatial.tiling import mercator_np

S2_BITS = 13
# H3 res-9 average edge length ~174.4 m; earth equatorial circumference
# ~40_075_017 m -> edge in mercator unit-square units.
HEX_EDGE_MERCATOR = 174.4 / 40_075_017.0
_HEX_OFFSET = 1 << 24  # axial coords fit comfortably in 25 bits each


def s2l13_cell_np(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Hilbert cell id on the mercator unit square, ``S2_BITS`` bits/dim."""
    mx, my = mercator_np(lon, lat)
    n = 1 << S2_BITS
    hx = np.clip((mx * n).astype(np.int64), 0, n - 1).astype(np.uint64)
    hy = np.clip((my * n).astype(np.int64), 0, n - 1).astype(np.uint64)
    return hilbert_xy2d(S2_BITS, hx, hy).astype(np.int64)


def h3r9_cell_np(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Hex cell id via axial coordinates + cube rounding (pointy-top)."""
    mx, my = mercator_np(lon, lat)
    # fractional axial coords
    q = (np.sqrt(3.0) / 3.0 * mx - my / 3.0) / HEX_EDGE_MERCATOR
    r = (2.0 / 3.0 * my) / HEX_EDGE_MERCATOR
    # cube rounding
    x = q
    z = r
    y = -x - z
    rx, ry, rz = np.round(x), np.round(y), np.round(z)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    qi = rx.astype(np.int64) + _HEX_OFFSET
    ri = rz.astype(np.int64) + _HEX_OFFSET
    return (qi << 25) | ri


# ---------- pandas UDFs (Arrow-batched; register once per session) ----------

@F.pandas_udf(LongType())
def cell_s2l13(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(s2l13_cell_np(lon.to_numpy(), lat.to_numpy()))


@F.pandas_udf(LongType())
def cell_h3r9(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(h3r9_cell_np(lon.to_numpy(), lat.to_numpy()))


def cell_stats_rollup(
    df,
    cell_col: str,
    levels: list[int],
):
    """Hierarchical per-cell counts (hypertable-style continuous
    rollup): counts at the finest level, coarser levels derived from
    the AGGREGATE table — never from the raw rows.

    Hilbert indexes are hierarchical (a parent's four children occupy
    consecutive indices), so the parent cell at ``k`` levels up is
    exactly ``cell >> 2k`` — each coarser level is one tiny shuffle over
    pre-aggregated rows (|cells| of the level below, not |records|),
    the same telescoping shape as the tile pyramid rollup. Returns
    ``(level, cell, n_points)`` for every requested level
    (``levels`` strictly descending, starting at ``S2_BITS``).
    """
    from pyspark.sql import functions as F

    if (
        not levels
        or levels[0] != S2_BITS
        or any(a <= b for a, b in zip(levels, levels[1:]))
    ):
        raise ValueError(
            f"levels must descend strictly from {S2_BITS}: {levels!r}"
        )
    out_cols = ["level", "cell", "n_points"]
    level = (
        df.groupBy(F.col(cell_col).alias("cell"))
        .agg(F.count("*").alias("n_points"))
        .withColumn("level", F.lit(S2_BITS))
    )
    out = [level.select(*out_cols)]
    prev_bits = S2_BITS
    for bits in levels[1:]:
        level = (
            level.groupBy(
                F.shiftright("cell", 2 * (prev_bits - bits)).alias("cell")
            )
            .agg(F.sum("n_points").alias("n_points"))
            .withColumn("level", F.lit(bits))
        )
        out.append(level.select(*out_cols))
        prev_bits = bits
    from functools import reduce

    return reduce(lambda a, b: a.unionAll(b), out)
