"""Web-mercator ZXY tiling — JVM-side column expressions + numpy twins.

The reference addresses tiles by (zoom, x, y) (`MvtUtils.java:32-33`,
filenames `z_x_y.covt`); tile-local integer coordinates live on an
``extent`` grid (4096, `CovtConverter.java:674-677`). This module provides
the standard slippy-map math in two exactly-matching forms:

- **Column expressions** (`F.*` only — stays inside whole-stage codegen,
  no Python in the hot path) for tile assignment at any zoom.
- **numpy kernels** used inside encode UDFs and by the pytest oracle.

The ANSI-SQL equivalents (for the DuckDB oracle) are the same formulas;
see __spark_entry__.oracle_sql().
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.05112878  # web-mercator latitude clamp
DEFAULT_EXTENT = 4096


# ---------- column-expression form (JVM, codegen) ----------

def mercator_x(lon: Column) -> Column:
    """lon degrees -> mercator x in [0, 1)."""
    return (lon + F.lit(180.0)) / F.lit(360.0)


def mercator_y(lat: Column) -> Column:
    """lat degrees -> mercator y in [0, 1) (y grows south)."""
    rad = F.radians(lat)
    return (
        F.lit(0.5)
        - F.log(F.tan(F.lit(math.pi / 4.0) + rad / F.lit(2.0))) / F.lit(2.0 * math.pi)
    )


def tile_x(lon: Column, z: int) -> Column:
    n = F.lit(float(1 << z))
    return F.least(
        F.lit((1 << z) - 1),
        F.greatest(F.lit(0), F.floor(mercator_x(lon) * n)),
    ).cast("int")


def tile_y(lat: Column, z: int) -> Column:
    n = F.lit(float(1 << z))
    return F.least(
        F.lit((1 << z) - 1),
        F.greatest(F.lit(0), F.floor(mercator_y(lat) * n)),
    ).cast("int")


def tile_local_x(lon: Column, z: int, x: Column) -> Column:
    """Integer coordinate within tile (z, x), on the ``DEFAULT_EXTENT`` grid."""
    n = F.lit(float(1 << z))
    return F.floor(
        (mercator_x(lon) * n - x.cast("double")) * F.lit(float(DEFAULT_EXTENT))
    ).cast("int")


def tile_local_y(lat: Column, z: int, y: Column) -> Column:
    n = F.lit(float(1 << z))
    return F.floor(
        (mercator_y(lat) * n - y.cast("double")) * F.lit(float(DEFAULT_EXTENT))
    ).cast("int")


# ---------- numpy twin (UDF kernels) ----------

def mercator_np(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    mx = (lon + 180.0) / 360.0
    rad = np.radians(lat)
    my = 0.5 - np.log(np.tan(math.pi / 4.0 + rad / 2.0)) / (2.0 * math.pi)
    return mx, my
