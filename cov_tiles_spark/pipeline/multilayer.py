"""Complete multi-layer tiles: bundle independently materialized layers
(images points, raster_grid polygons) into one payload per (z, x, y).

The merge is byte-level layer concatenation (gen-A layer blocks are
self-contained — `covt.encoder.merge_tile_payloads`), so the combining
stage is a cheap equi-join + scalar concat, not a decode/re-encode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.covt.encoder import merge_tile_payloads
from cov_tiles_spark.pipeline.materialize import materialize_tiles
from cov_tiles_spark.pipeline.raster import raster_grid_tiles


def materialize_multilayer(images: DataFrame, zooms: list[int]) -> DataFrame:
    """images → one COVT payload per tile with 'images' + 'raster_grid'."""
    pts = materialize_tiles(images, zooms, with_mvt_baseline=False).select(
        "z", "x", "y",
        F.col("num_features").alias("n_points"),
        F.col("payload").alias("p_images"),
    )
    grid = raster_grid_tiles(images, zooms).select(
        "z", "x", "y",
        F.col("n_cells"),
        F.col("payload").alias("p_grid"),
    )
    joined = pts.join(grid, ["z", "x", "y"], "full_outer")

    def merge(batches):
        for pdf in batches:
            merged = []
            for _, row in pdf.iterrows():
                parts = [
                    bytes(p)
                    for p in (row["p_images"], row["p_grid"])
                    if p is not None
                ]
                merged.append(merge_tile_payloads(parts))
            out = pdf[["z", "x", "y"]].copy()
            out["n_points"] = pdf["n_points"].fillna(0).astype("int64")
            out["n_cells"] = pdf["n_cells"].fillna(0).astype("int64")
            out["payload"] = merged
            out["payload_bytes"] = [len(m) for m in merged]
            yield out

    return joined.mapInPandas(
        merge,
        schema="z int, x int, y int, n_points long, n_cells long, "
               "payload binary, payload_bytes long",
    )
