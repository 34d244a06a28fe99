"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name:
sec}, "sf", plus informational extras (tiles/sec, per-zoom compression
vs the MVT baseline)}.

Scaling evidence (local[8] vs local[32]) is produced separately by
scripts/scaling_bench.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

# the timed queries, in run order; bench_extra.py and
# scripts/capture_plans.py default to the same list
HEADLINE = [
    "q_tile_encode",
    "q_tile_assignment",
    "q_pip",
    "q_knn",
    "q_pricing_summary",
    "q_local_supplier_volume",
    "q_minhash_dedup",
    "q_cosine_topk",
    "q_hilbert_cells",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from cov_tiles_spark.session import get_spark, warm_workers

    spark = get_spark(app_name="cov-tiles-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    qmap = entry.queries()
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    warm_workers(spark)

    # best-of-N per query (default 3, SPARK_GRAFT_BENCH_REPS overrides):
    # the sandbox host is shared-tenant and individual timings fluctuate
    # 2-6x run to run; the min of N runs estimates steady-state engine
    # throughput far better than a single sample that may land on a
    # contended window (BENCH_r04 regressed 19% on tenant noise even at
    # best-of-2 — see BENCH/BASELINE.md pinned A/B attributing it)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    for name in HEADLINE:
        best_t, best_n = None, 0
        for _rep in range(reps):
            spark.catalog.clearCache()  # isolate queries: no cross-query
            # cached blocks competing for executor memory (q_knn's
            # radius-prefilter cache measured 2-3x slower when sharing
            # memory with the encode stage's leftovers)
            t0 = time.time()
            df = qmap[name](spark, sf_dir)
            n = df.count()  # force full execution
            dt = time.time() - t0
            if best_t is None or dt < best_t:
                best_t, best_n = dt, n
        timings[name] = round(best_t, 3)
        extras[f"{name}_rows"] = best_n

    # flagship detail: tiles/sec + compression ratio per zoom
    t0 = time.time()
    from pyspark.sql import functions as F

    from cov_tiles_spark.pipeline.materialize import materialize_tiles

    # rebuild with the MVT baseline for the ratio numbers
    imgs = entry._events_images(spark, sf_dir)
    stats = (
        materialize_tiles(imgs, [2, 4, 6], with_mvt_baseline=True)
        .groupBy("z")
        .agg(
            F.count("*").alias("tiles"),
            F.sum("payload_bytes").alias("covt"),
            F.sum("mvt_bytes").alias("mvt"),
        )
        .collect()
    )
    encode_sec = time.time() - t0
    total_tiles = sum(r.tiles for r in stats)
    extras["tiles_per_sec"] = round(total_tiles / encode_sec, 2)
    for r in sorted(stats, key=lambda r: r.z):
        extras[f"z{r.z}_reduction_pct"] = round((1 - r.covt / r.mvt) * 100, 1)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline-suite-total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                "extras": extras,
            }
        )
    )


if __name__ == "__main__":
    main()
