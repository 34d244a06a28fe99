"""Event-time streaming operator: watermarked windowed tile stats.

``tile_counts_windowed``: per-(window, tile) feature counts over event
time with a watermark bounding state — late records beyond the
watermark are dropped by the engine, so state size is O(open windows x
live tiles) regardless of stream length.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tile_cols(zoom: int):
    n = 1 << zoom
    mx = (F.col("lon") + F.lit(180.0)) / F.lit(360.0)
    my = (
        F.lit(0.5)
        - F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(F.col("lat")) / F.lit(2.0)))
        / F.lit(2.0 * math.pi)
    )
    tx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(mx * n))).cast("int")
    ty = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(my * n))).cast("int")
    return tx.alias("x"), ty.alias("y")


def tile_counts_windowed(
    stream: DataFrame,
    zoom: int,
    window_duration: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window per-tile counts over event time (``ts`` column).

    Whole plan is codegen (mercator math + window + hash agg); the
    10-minute watermark bounds both state and late-data acceptance. Works on a
    streaming OR batch DataFrame (batch ignores the watermark), so the
    same definition serves the backfill job and the live query.
    """
    tx, ty = _tile_cols(zoom)
    pts = stream.withWatermark("ts", "10 minutes") if stream.isStreaming else stream
    return (
        pts.select(F.col("ts"), tx, ty)
        .groupBy(
            F.window("ts", window_duration).alias("win"),
            F.lit(zoom).alias("z"), "x", "y",
        )
        .agg(F.count("*").alias("n_points"))
        .select(
            F.col("win.start").alias("win_start"), "z", "x", "y", "n_points"
        )
    )
