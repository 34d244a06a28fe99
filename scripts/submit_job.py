"""spark-submit entrypoint (north_rule: "run via spark-submit --py-files
on a multi-executor cluster").

Packaging:
    python scripts/make_pyfiles_zip.py            # -> dist/cov_tiles_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/cov_tiles_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-4x total cores> \
        scripts/submit_job.py --job tiles --input <parquet> --output <lake> \
        --zooms 2,4,6,8,10,12,14

Jobs:
    tiles   — incremental materialization: input images parquet -> COVT
              payload table committed through IcebergLite
              (pipeline/delta.py delta_materialize). A rerun re-encodes
              only tiles that are missing from the lake or whose input
              rows changed, and prints the tile counts.
    synth   — generate the deterministic corpus to parquet
    knn     — kNN join queries parquet x points parquet
"""

from __future__ import annotations

import argparse
import os
import sys

# local runs: make the repo-root package importable (spark-submit runs ship
# it via --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", required=True, choices=["tiles", "synth", "knn"])
    ap.add_argument("--input", help="input parquet path")
    ap.add_argument("--output", required=True, help="output/lake root")
    ap.add_argument("--zooms", default="2,4,6,8,10,12,14")
    ap.add_argument("--n", type=int, default=100_000, help="synth record count")
    ap.add_argument("--queries", help="kNN queries parquet")
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    spark = SparkSession.builder.getOrCreate()  # configs come from submit

    if args.job == "synth":
        from cov_tiles_spark.io.synth import images_df

        images_df(spark, args.n).write.mode("overwrite").parquet(args.output)
        return

    if args.job == "tiles":
        from cov_tiles_spark.pipeline.delta import delta_materialize
        from cov_tiles_spark.pipeline.lineage import IcebergLite

        zooms = [int(z) for z in args.zooms.split(",")]
        lake = IcebergLite(spark, args.output)
        images = spark.read.parquet(args.input)
        print(delta_materialize(lake, images, zooms))
        return

    if args.job == "knn":
        from cov_tiles_spark.spatial.knn import knn_broadcast

        points = spark.read.parquet(args.input)
        queries = spark.read.parquet(args.queries)
        knn_broadcast(points, queries, k=args.k).write.mode("overwrite").parquet(
            args.output
        )


if __name__ == "__main__":
    main()
