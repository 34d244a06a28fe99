"""Extra benchmarks (guide §1.4): per-query isolation with the noop sink.

NOT the driver contract — bench.py stays the official number. This
harness times each query twice per rep: once via ``df.count()`` (the
frozen bench.py methodology, for comparability) and once via the noop
sink (forces every column of every row, so column-pruning can't hide
work). Jobs are labelled for the UI.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py [query ...]

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS (default 3).
Prints one JSON line with per-query {count_best, noop_best, samples}.
"""
from __future__ import annotations

import json
import os
import sys
import time

from bench import HEADLINE


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from cov_tiles_spark.session import get_spark, warm_workers

    spark = get_spark(app_name="cov-tiles-bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    names = sys.argv[1:] or HEADLINE
    qmap = entry.queries()

    warm_workers(spark)

    out: dict[str, dict] = {}
    for name in names:
        counts, noops = [], []
        for _rep in range(reps):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} count rep{_rep}")
            t0 = time.time()
            df = qmap[name](spark, sf_dir)
            df.count()
            counts.append(round(time.time() - t0, 3))

            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} noop rep{_rep}")
            t0 = time.time()
            df = qmap[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            noops.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "count_best": min(counts),
            "noop_best": min(noops),
            "count_samples": counts,
            "noop_samples": noops,
        }
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "queries": out}))


if __name__ == "__main__":
    main()
