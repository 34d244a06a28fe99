"""Bbox range join: points against axis-aligned lon/lat rectangles.

SURVEY §2.3's range-join row: the naive plan is a cartesian with an
interval predicate — O(points x boxes) and unshardable. This join bins
both sides to web-mercator tile cells at a chosen zoom and equi-joins on
the cell, so each point meets only the boxes overlapping its cell; the
exact interval predicate then filters the candidates. A point belongs to
exactly one cell, so no dedup pass is needed. Cost is
O(points + boxes x cells_per_box + candidate pairs); pick ``zoom`` so a
typical box spans a handful of cells (cells_per_box ~ (box_size /
cell_size)^2). Hot cells (dense areas) are ordinary join skew — AQE
skew-join splitting (on by default in session.py) handles them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.spatial.tiling import tile_x, tile_y


def bbox_join(
    points: DataFrame,
    boxes: DataFrame,
    zoom: int = 6,
) -> DataFrame:
    """Inner-join points (lon, lat, ...) to boxes (lon_min, lon_max,
    lat_min, lat_max, ...) they fall inside (closed intervals). Returns
    all columns of both inputs. tile_x/tile_y clamp to the world grid,
    so boxes reaching past the antimeridian/poles just cover the edge
    cells."""
    pts = points.withColumn("_cx", tile_x(F.col("lon"), zoom)).withColumn(
        "_cy", tile_y(F.col("lat"), zoom)
    )
    # a box covers the inclusive tile range of its corners; note mercator
    # y grows southward, so lat_max maps to the smaller tile y
    bx0 = tile_x(F.col("lon_min"), zoom)
    bx1 = tile_x(F.col("lon_max"), zoom)
    by0 = tile_y(F.col("lat_max"), zoom)
    by1 = tile_y(F.col("lat_min"), zoom)
    exploded = (
        boxes.withColumn("_cx", F.explode(F.sequence(bx0, bx1)))
        .withColumn("_cy", F.explode(F.sequence(by0, by1)))
    )
    inside = (
        (F.col("lon") >= F.col("lon_min")) & (F.col("lon") <= F.col("lon_max"))
        & (F.col("lat") >= F.col("lat_min")) & (F.col("lat") <= F.col("lat_max"))
    )
    return pts.join(exploded, ["_cx", "_cy"]).filter(inside).drop("_cx", "_cy")
