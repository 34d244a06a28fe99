"""SFC-clustered (cloud-optimized) storage layout + pruned bbox scans.

The reference serves tiles from archives laid out along a space-filling
curve for locality (tile order inside MBTiles / COVT tilesets,
`GeometryUtils.java:8-21` Hilbert machinery); this module applies the
same idea one level up, to the *record corpus itself* — the layout that
makes a 100 TB point table cheap to query by footprint:

write side (:func:`cluster_write`)
    Every row gets a Hilbert key at ``bits`` bits/dim over the
    web-mercator unit square (same curve as ``spatial/cells.py``; the
    prefix property ``parent == key >> 2k`` is proven by
    ``tests/test_spatial_cells.py``).  The coarse ``prefix_bits``-level
    cell becomes a **directory partition column** (``hprefix=<n>/``),
    and rows are range-partitioned + sorted by the fine key, so each
    parquet **row group** covers a tight, non-overlapping key interval.

read side (:func:`bbox_scan`)
    A lon/lat bbox is covered by coarse Hilbert cells (vectorized numpy
    over the cell rectangle), the cells are merged into contiguous
    ``[lo, hi]`` runs along the curve (Hilbert contiguity keeps the run
    count small), and the scan issues, per run:

    - ``hprefix BETWEEN lo AND hi`` — resolved by Catalyst at the file
      *listing* (``PartitionFilters``): directories outside the
      footprint of a 100 TB corpus are never even listed;
    - ``hkey BETWEEN lo<<2k AND ((hi+1)<<2k)-1`` — pushed to the
      parquet reader, whose per-row-group min/max stats skip whole row
      groups inside partially-overlapping prefix cells (tight because
      the write side sorted by ``hkey``);
    - the **exact** lon/lat predicate on top.  The cover is a superset
      by construction, so correctness never depends on the pruning —
      the index can only make the scan cheaper, not wrong.

Scale notes: the cover is computed driver-side over at most
``max_cover_cells`` coarse cells (the cover degrades to coarser runs,
never to a full scan, when a huge bbox would exceed the cap); the write
is one range exchange (`repartitionByRange` samples the key — fine for
fresh reads, cache expensive lineages first, see CLAUDE.md gotcha).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from cov_tiles_spark.covt.sfc import hilbert_xy2d
from cov_tiles_spark.spatial.tiling import mercator_np

DEFAULT_BITS = 16
DEFAULT_PREFIX_BITS = 6

KEY_COL = "hkey"
PREFIX_COL = "hprefix"


def hilbert_key_udf(bits: int = DEFAULT_BITS):
    """Arrow-batched Hilbert key at ``bits`` bits/dim (no per-row Python)."""

    @F.pandas_udf(LongType())
    def _key(lon: pd.Series, lat: pd.Series) -> pd.Series:
        mx, my = mercator_np(lon.to_numpy(), lat.to_numpy())
        n = 1 << bits
        hx = np.clip((mx * n).astype(np.int64), 0, n - 1).astype(np.uint64)
        hy = np.clip((my * n).astype(np.int64), 0, n - 1).astype(np.uint64)
        return pd.Series(hilbert_xy2d(bits, hx, hy).astype(np.int64))

    return _key


def cluster_write(
    df: DataFrame,
    path: str,
    bits: int = DEFAULT_BITS,
    prefix_bits: int = DEFAULT_PREFIX_BITS,
    n_partitions: int = 32,
    row_group_bytes: int = 1 << 20,
) -> None:
    """Write ``df`` Hilbert-clustered on its ``lon``/``lat`` columns:
    ``hprefix`` directory partitions, ``hkey``-sorted rows (tight
    row-group min/max stats) inside each.

    ``row_group_bytes`` is deliberately small by default so the skipping
    behavior is observable at test scale; production corpora should use
    the parquet default (128 MiB) — the layout math is size-agnostic.
    """
    if prefix_bits >= bits:
        raise ValueError(f"prefix_bits {prefix_bits} must be < bits {bits}")
    shift = 2 * (bits - prefix_bits)
    keyed = df.withColumn(
        KEY_COL, hilbert_key_udf(bits)(F.col("lon"), F.col("lat"))
    ).withColumn(PREFIX_COL, F.shiftright(F.col(KEY_COL), shift))
    # One range exchange on the fine key: each output task owns a
    # contiguous curve interval, so it spans few prefix directories and
    # its files' row groups cover disjoint, sorted key ranges.
    (
        keyed.repartitionByRange(n_partitions, KEY_COL)
        .sortWithinPartitions(KEY_COL)
        .write.mode("overwrite")
        .option("parquet.block.size", row_group_bytes)
        .partitionBy(PREFIX_COL)
        .parquet(path)
    )


def bbox_cover(
    bbox: tuple[float, float, float, float],
    prefix_bits: int = DEFAULT_PREFIX_BITS,
    max_cover_cells: int = 65536,
) -> list[tuple[int, int]]:
    """Coarse Hilbert cells covering ``(lon_min, lat_min, lon_max,
    lat_max)``, merged into contiguous ``[lo, hi]`` runs along the curve.

    The cover is a superset of every cell any point in the bbox can map
    to (grid indices are clamped exactly like the key UDF clamps).  If
    the rectangle would exceed ``max_cover_cells`` at ``prefix_bits``,
    the cover is computed at a coarser level and the runs widened back —
    still a superset, just less selective.
    """
    lon_min, lat_min, lon_max, lat_max = bbox
    if lon_min > lon_max or lat_min > lat_max:
        raise ValueError(f"degenerate bbox {bbox}")
    mx, my = mercator_np(
        np.array([lon_min, lon_max]), np.array([lat_min, lat_max])
    )
    # mercator y decreases as latitude increases — order the grid bounds
    x_lo, x_hi = mx[0], mx[1]
    y_lo, y_hi = min(my), max(my)

    level = prefix_bits
    while True:
        n = 1 << level
        gx0 = int(np.clip(math.floor(x_lo * n), 0, n - 1))
        gx1 = int(np.clip(math.floor(x_hi * n), 0, n - 1))
        gy0 = int(np.clip(math.floor(y_lo * n), 0, n - 1))
        gy1 = int(np.clip(math.floor(y_hi * n), 0, n - 1))
        # level 1 is the floor: a 2x2 grid (4 cells) covers the world,
        # so the grid bounds in scope always match `level`
        if (gx1 - gx0 + 1) * (gy1 - gy0 + 1) <= max_cover_cells or level == 1:
            break
        level -= 1
    widen = 2 * (prefix_bits - level)

    gx = np.arange(gx0, gx1 + 1, dtype=np.uint64)
    gy = np.arange(gy0, gy1 + 1, dtype=np.uint64)
    xs, ys = np.meshgrid(gx, gy)
    cells = np.sort(hilbert_xy2d(level, xs.ravel(), ys.ravel()).astype(np.int64))
    # merge consecutive curve positions into runs
    breaks = np.nonzero(np.diff(cells) > 1)[0]
    starts = np.concatenate(([0], breaks + 1))
    ends = np.concatenate((breaks, [len(cells) - 1]))
    return [
        (int(cells[s]) << widen, ((int(cells[e]) + 1) << widen) - 1)
        for s, e in zip(starts, ends)
    ]


def bbox_scan(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    bits: int = DEFAULT_BITS,
    prefix_bits: int = DEFAULT_PREFIX_BITS,
    direct_listing: bool = False,
) -> DataFrame:
    """Read only the bbox's footprint of a :func:`cluster_write` layout.

    Returns the exact bbox rows (boundary-inclusive on ``lon``/``lat``)
    with the two index
    columns still attached (callers project them away; keeping them lets
    tests assert the pruning plan).

    ``direct_listing=True`` skips Spark's recursive partition discovery:
    the cover's directories are resolved driver-side (one listing RPC
    through the Hadoop ``FileSystem`` API, so any scheme Spark can read
    — ``file://``, ``hdfs://``, ``s3a://`` — lists the same way) and
    only those paths are handed to the reader with ``basePath`` — the
    manifest-style shortcut a 100 TB object-store layout needs, where
    discovering millions of files to then prune them is itself the
    bottleneck.  Semantics are identical (the same predicates are still
    applied); the default keeps the pruning visible to Catalyst
    (``PartitionFilters``, plan-asserted in tests).
    """
    runs = bbox_cover(bbox, prefix_bits=prefix_bits)
    shift = 2 * (bits - prefix_bits)
    if direct_listing:
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        dirs = []
        for status in fs.listStatus(jpath):
            name = status.getPath().getName()
            if not name.startswith(f"{PREFIX_COL}="):
                continue
            v = int(name.rsplit("=", 1)[1])
            if any(lo <= v <= hi for lo, hi in runs):
                dirs.append(status.getPath().toString())
        if not dirs:
            # empty cover — preserve schema via an always-false filter
            df = spark.read.parquet(path).filter(F.lit(False))
        else:
            df = spark.read.option("basePath", path).parquet(*dirs)
    else:
        df = spark.read.parquet(path)
    prefix_pred = None
    key_pred = None
    for lo, hi in runs:
        p = (F.col(PREFIX_COL) >= lo) & (F.col(PREFIX_COL) <= hi)
        k = (F.col(KEY_COL) >= (lo << shift)) & (
            F.col(KEY_COL) <= ((hi + 1) << shift) - 1
        )
        prefix_pred = p if prefix_pred is None else (prefix_pred | p)
        key_pred = k if key_pred is None else (key_pred | k)
    lon_min, lat_min, lon_max, lat_max = bbox
    exact = (
        (F.col("lon") >= lon_min)
        & (F.col("lon") <= lon_max)
        & (F.col("lat") >= lat_min)
        & (F.col("lat") <= lat_max)
    )
    return df.filter(prefix_pred).filter(key_pred).filter(exact)
