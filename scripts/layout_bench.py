"""Measure what the Hilbert-clustered layout (pipeline/layout.py) buys:
files listed (partition pruning), row groups touched (min/max skipping),
and the fraction of corpus ROWS a bbox scan must read — the metric that
is scale-portable to 100 TB (bytes touched dominate there; the per-file
constants that dominate wall at toy scale amortize away).

Usage: PYTHONPATH=. python scripts/layout_bench.py [n_points]

Row-group / row counts are pure footer arithmetic (deterministic); wall
times are best-of-2 on this shared-tenant host (see BENCH/BASELINE.md
variance note) and at this scale are driver-constant-dominated — they
are reported for honesty, not as the headline.
"""

from __future__ import annotations

import glob
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.layout import (
    KEY_COL,
    bbox_cover,
    bbox_scan,
    cluster_write,
    hilbert_key_udf,
)
from cov_tiles_spark.session import get_spark

BITS = 16
# 256 directories: at 1M rows each holds ~dozens of row groups at 64 KiB
# blocks — the "each partition holds >= a few row groups" sizing rule a
# 100 TB corpus would satisfy with the default prefix_bits=6 / 128 MiB.
PREFIX_BITS = 4
BBOXES = {
    "metro (3x3 deg)": (-123.0, 13.0, -120.0, 16.0),
    "country (10x8)": (-5.0, 42.0, 5.0, 50.0),
    "continent (60x50)": (-20.0, 20.0, 40.0, 70.0),
}


def _points(spark, n):
    return spark.range(n).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 9973) % 3600) / 10.0 - 180.0 + 0.05).alias("lon"),
        (((F.col("id") * 7919) % 1600) / 10.0 - 80.0 + 0.05).alias("lat"),
    )


def _touched(path, runs, shift):
    """(groups touched, total groups, rows in touched groups, total rows)."""
    import pyarrow.parquet as pq

    fine = [(lo << shift, ((hi + 1) << shift) - 1) for lo, hi in runs]
    tg = gg = tr = rr = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(f).metadata
        names = md.schema.to_arrow_schema().names
        if KEY_COL not in names:
            continue
        ci = names.index(KEY_COL)
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            st = g.column(ci).statistics
            gg += 1
            rr += g.num_rows
            hit = st is None or any(
                st.min <= hi and st.max >= lo for lo, hi in fine
            )
            if hit:
                tg += 1
                tr += g.num_rows
    return tg, gg, tr, rr


def _listed_files(path, runs):
    n = 0
    for d in glob.glob(os.path.join(path, "hprefix=*")):
        v = int(d.rsplit("=", 1)[1])
        if any(lo <= v <= hi for lo, hi in runs):
            n += len(glob.glob(os.path.join(d, "*.parquet")))
    return n


def _best_of(fn, n=2):
    best = float("inf")
    for _ in range(n):
        t = time.time()
        fn()
        best = min(best, time.time() - t)
    return best


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark(app_name="layout-bench", master="local[32]",
                      shuffle_partitions=32)
    pts = _points(spark, n).cache()
    pts.count()

    clustered = tempfile.mkdtemp(prefix="layout_c_")
    natural = tempfile.mkdtemp(prefix="layout_n_")
    cluster_write(pts, clustered, bits=BITS, prefix_bits=PREFIX_BITS,
                  n_partitions=32, row_group_bytes=64 * 1024)
    (
        pts.withColumn(KEY_COL, hilbert_key_udf(BITS)(F.col("lon"), F.col("lat")))
        .repartition(32, "pid")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(natural)
    )
    shift = 2 * (BITS - PREFIX_BITS)
    total_files = len(
        glob.glob(os.path.join(clustered, "**", "*.parquet"), recursive=True)
    )

    print(f"\ncorpus: {n} points; clustered: {total_files} files, "
          f"prefix_bits={PREFIX_BITS}, bits={BITS}, 64 KiB row groups\n")
    print("| bbox | rows selected | files listed | row groups touched "
          "(clustered vs natural) | corpus rows read (clustered vs natural) "
          "| pruned wall | direct-listing wall | full-filter wall |")
    print("|---|---|---|---|---|---|---|---|")
    for name, bbox in BBOXES.items():
        runs = bbox_cover(bbox, prefix_bits=PREFIX_BITS)
        listed = _listed_files(clustered, runs)
        ct, cg, crows, call = _touched(clustered, runs, shift)
        nt, ng, nrows, nall = _touched(natural, runs, shift)
        n_sel = bbox_scan(spark, clustered, bbox, bits=BITS,
                          prefix_bits=PREFIX_BITS).count()
        t_pruned = _best_of(lambda: bbox_scan(
            spark, clustered, bbox, bits=BITS, prefix_bits=PREFIX_BITS
        ).count())
        t_direct = _best_of(lambda: bbox_scan(
            spark, clustered, bbox, bits=BITS, prefix_bits=PREFIX_BITS,
            direct_listing=True,
        ).count())
        lon_min, lat_min, lon_max, lat_max = bbox
        t_full = _best_of(lambda: spark.read.parquet(natural).filter(
            (F.col("lon") >= lon_min) & (F.col("lon") <= lon_max)
            & (F.col("lat") >= lat_min) & (F.col("lat") <= lat_max)
        ).count())
        print(f"| {name} | {n_sel} | {listed}/{total_files} "
              f"| {ct}/{cg} ({100*ct/cg:.1f}%) vs {nt}/{ng} ({100*nt/ng:.1f}%) "
              f"| {100*crows/call:.1f}% vs {100*nrows/nall:.1f}% "
              f"| {t_pruned:.2f}s | {t_direct:.2f}s | {t_full:.2f}s |")
    spark.stop()


if __name__ == "__main__":
    main()
