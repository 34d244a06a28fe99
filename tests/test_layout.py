"""Hilbert-clustered storage layout (pipeline/layout.py): cover is a
superset, pruned scan is exact, partition pruning reaches the listing,
and the sorted layout actually skips row groups."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.layout import (
    KEY_COL,
    PREFIX_COL,
    bbox_cover,
    bbox_scan,
    cluster_write,
    hilbert_key_udf,
)

BBOX = (-60.0, -30.0, 40.0, 45.0)
BITS, PREFIX_BITS = 16, 6


def _points(spark, n=20000):
    df = spark.range(n).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 9973) % 3600) / 10.0 - 180.0 + 0.05).alias("lon"),
        (((F.col("id") * 7919) % 1600) / 10.0 - 80.0 + 0.05).alias("lat"),
    )
    return df


def test_cover_is_superset_of_point_cells():
    rng = np.random.default_rng(7)
    lon = rng.uniform(BBOX[0], BBOX[2], 5000)
    lat = rng.uniform(BBOX[1], BBOX[3], 5000)
    # boundary points too — the exact corners must be covered
    lon = np.concatenate([lon, [BBOX[0], BBOX[2], BBOX[0], BBOX[2]]])
    lat = np.concatenate([lat, [BBOX[1], BBOX[3], BBOX[3], BBOX[1]]])
    from cov_tiles_spark.spatial.tiling import mercator_np
    from cov_tiles_spark.covt.sfc import hilbert_xy2d

    mx, my = mercator_np(lon, lat)
    n = 1 << BITS
    hx = np.clip((mx * n).astype(np.int64), 0, n - 1).astype(np.uint64)
    hy = np.clip((my * n).astype(np.int64), 0, n - 1).astype(np.uint64)
    keys = hilbert_xy2d(BITS, hx, hy).astype(np.int64)
    prefixes = keys >> (2 * (BITS - PREFIX_BITS))
    runs = bbox_cover(BBOX, prefix_bits=PREFIX_BITS)
    in_cover = np.zeros(len(prefixes), dtype=bool)
    for lo, hi in runs:
        in_cover |= (prefixes >= lo) & (prefixes <= hi)
    assert in_cover.all()


def test_cover_coarsens_under_cell_cap():
    fine = bbox_cover(BBOX, prefix_bits=PREFIX_BITS)
    coarse = bbox_cover(BBOX, prefix_bits=PREFIX_BITS, max_cover_cells=16)
    # coarser cover is a superset of the fine one
    def total(runs):
        return sum(hi - lo + 1 for lo, hi in runs)

    assert total(coarse) >= total(fine)
    for lo, hi in fine:
        assert any(clo <= lo and hi <= chi for clo, chi in coarse)


def test_scan_equals_plain_filter(spark, tmp_path):
    pts = _points(spark)
    path = str(tmp_path / "layout")
    cluster_write(pts, path, bits=BITS, prefix_bits=PREFIX_BITS, n_partitions=8)

    got = (
        bbox_scan(spark, path, BBOX, bits=BITS, prefix_bits=PREFIX_BITS)
        .select("pid")
        .toPandas()["pid"]
        .sort_values()
        .to_numpy()
    )
    want = (
        pts.filter(
            (F.col("lon") >= BBOX[0])
            & (F.col("lon") <= BBOX[2])
            & (F.col("lat") >= BBOX[1])
            & (F.col("lat") <= BBOX[3])
        )
        .select("pid")
        .toPandas()["pid"]
        .sort_values()
        .to_numpy()
    )
    assert len(want) > 0
    assert np.array_equal(got, want)


def test_direct_listing_equals_default(spark, tmp_path):
    pts = _points(spark, n=8000)
    path = str(tmp_path / "layout_direct")
    cluster_write(pts, path, bits=BITS, prefix_bits=PREFIX_BITS, n_partitions=4)
    a = (
        bbox_scan(spark, path, BBOX, bits=BITS, prefix_bits=PREFIX_BITS)
        .select("pid").toPandas()["pid"].sort_values().to_numpy()
    )
    b = (
        bbox_scan(spark, path, BBOX, bits=BITS, prefix_bits=PREFIX_BITS,
                  direct_listing=True)
        .select("pid").toPandas()["pid"].sort_values().to_numpy()
    )
    assert len(a) > 0 and np.array_equal(a, b)
    # an empty cover still returns the right (empty) result
    empty = bbox_scan(spark, path, (150.0, 75.0, 150.2, 75.2),
                      bits=BITS, prefix_bits=PREFIX_BITS, direct_listing=True)
    assert empty.count() == 0


def test_partition_pruning_reaches_listing(spark, tmp_path):
    pts = _points(spark, n=5000)
    path = str(tmp_path / "layout_plan")
    cluster_write(pts, path, bits=BITS, prefix_bits=PREFIX_BITS, n_partitions=4)
    df = bbox_scan(spark, path, BBOX, bits=BITS, prefix_bits=PREFIX_BITS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan, plan
    assert PREFIX_COL in scan[0]
    # and the fine-key predicate is pushed to the parquet reader
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and KEY_COL in pushed[0], plan


def _row_groups_touched(
    path: str,
    runs: list[tuple[int, int]],
    shift: int,
) -> tuple[int, int]:
    """(overlapping, total) parquet row groups for the fine-key runs.
    Pure-footer arithmetic (pyarrow), deterministic, noise-free."""
    fine = [(lo << shift, ((hi + 1) << shift) - 1) for lo, hi in runs]
    touched = total = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        try:
            ci = md.schema.to_arrow_schema().names.index(KEY_COL)
        except ValueError:  # key lives in the directory name only
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            total += 1
            if st is None:
                touched += 1
                continue
            if any(st.min <= hi and st.max >= lo for lo, hi in fine):
                touched += 1
    return touched, total


def test_clustered_layout_skips_row_groups(spark, tmp_path):
    pts = _points(spark, n=50000)
    small = (-10.0, -10.0, 10.0, 10.0)
    clustered = str(tmp_path / "clustered")
    cluster_write(
        pts, clustered, bits=BITS, prefix_bits=PREFIX_BITS,
        n_partitions=8, row_group_bytes=64 * 1024,
    )
    # natural (insertion-order) layout with the same key column attached
    natural = str(tmp_path / "natural")
    (
        pts.withColumn(KEY_COL, hilbert_key_udf(BITS)(F.col("lon"), F.col("lat")))
        .repartition(8, "pid")
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(natural)
    )
    runs = bbox_cover(small, prefix_bits=PREFIX_BITS)
    shift = 2 * (BITS - PREFIX_BITS)
    c_touch, c_total = _row_groups_touched(clustered, runs, shift)
    n_touch, n_total = _row_groups_touched(natural, runs, shift)
    assert c_total > 8 and n_total > 8  # multiple row groups exist
    # natural order: the bbox's keys are smeared across ~every row group
    assert n_touch / n_total > 0.9
    # clustered: the footprint is a small fraction of the corpus
    assert c_touch / c_total < 0.35, (c_touch, c_total)


def test_degenerate_bbox_rejected():
    with pytest.raises(ValueError):
        bbox_cover((10.0, 0.0, -10.0, 5.0))
