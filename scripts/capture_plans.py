"""Capture .explain("formatted") for queries into plans/<tag>/<q>_<suffix>.txt.

Usage: PYTHONPATH=. python scripts/capture_plans.py <tag> <suffix> [sf_dir] [query ...]

Default queries: the bench.py headline list. Writes one file per query;
plan capture only (no execution), so it is safe to run concurrently with
other work.
"""
from __future__ import annotations

import contextlib
import io
import os
import sys


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from bench import HEADLINE

    names = sys.argv[4:] or HEADLINE
    import __spark_entry__ as entry
    from cov_tiles_spark.session import get_spark

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entry.queries()
    outdir = os.path.join(repo, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = qmap[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf_dir}\n")
            f.write(buf.getvalue())
        print("wrote", path)


if __name__ == "__main__":
    main()
