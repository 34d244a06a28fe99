"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values. Each gate's Spark jobs carry
its name as their job description.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
(an unknown query name exits 2 before Spark starts)

Env: ``CHECK_ORACLES_JSON=path`` additionally writes a CORRECTNESS-style
JSON with per-query wall times (used for the committed sf0.1 scale run);
``SPARK_GATE_MASTER`` overrides the local[8] gate master.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = df[c].dtype
        if pd.api.types.is_bool_dtype(dt):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(dt):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(dt):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(dt):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # point the committed-parquet oracles at this scale factor's build
    # (scripts/build_oracles.py <sf_dir>) BEFORE the entry module reads
    # the env at import
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    cand = os.path.join(repo, "oracles", sf_name)
    if os.path.isdir(cand):
        os.environ["COV_ORACLE_DIR"] = cand
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2

    from cov_tiles_spark.session import get_spark, warm_workers

    master = os.environ.get("SPARK_GATE_MASTER", "local[8]")
    spark = get_spark(master=master, shuffle_partitions=8)
    # so the first gate's time does not include worker spawn
    warm_workers(spark)
    results: dict[str, dict] = {}

    def record(name, t0, *, rows_match=False, schema_match=False,
               hash_match=False, spark_rows=None, oracle_rows=None, err=None,
               spark_secs=None, oracle_secs=None):
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "secs": round(time.time() - t0, 2),
            # round-5 verdict task 5: board time alone can't distinguish
            # an engine regression from a slow oracle — record both sides
            "spark_secs": spark_secs, "oracle_secs": oracle_secs,
            "err": err,
        }

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spark.sparkContext.setJobDescription(name)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            record(name, t0, err=f"spark error: {str(e)[:300]}")
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        spark_secs = round(time.time() - t0, 2)
        t_o = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            record(name, t0, spark_rows=len(sdf), err=f"duckdb error: {str(e)[:300]}",
                   spark_secs=spark_secs)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        oracle_secs = round(time.time() - t_o, 2)
        a, b = normalize(sdf), normalize(odf)
        nrows = {"spark_rows": len(a), "oracle_rows": len(b)}
        if list(a.columns) != list(b.columns):
            failures.append((name, f"columns {list(a.columns)} vs {list(b.columns)}"))
            record(name, t0, spark_secs=spark_secs, oracle_secs=oracle_secs, rows_match=len(a) == len(b), **nrows)
            print(f"FAIL {name}: columns {list(a.columns)} != {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append((name, f"rows {len(a)} vs {len(b)}"))
            record(name, t0, spark_secs=spark_secs, oracle_secs=oracle_secs, schema_match=True, **nrows)
            print(f"FAIL {name}: rows {len(a)} != {len(b)}")
            continue
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            diff = pd.concat([a[neq].head(3), b[neq].head(3)])
            failures.append((name, "values"))
            record(name, t0, spark_secs=spark_secs, oracle_secs=oracle_secs, rows_match=True, schema_match=True, **nrows)
            print(f"FAIL {name}: value mismatch in {int(neq.sum())} rows\n{diff}")
            continue
        record(name, t0, spark_secs=spark_secs, oracle_secs=oracle_secs, rows_match=True, schema_match=True, hash_match=True, **nrows)
        print(f"ok   {name}: {len(a)} rows match ({time.time()-t0:.1f}s)")
    spark.sparkContext.setJobDescription(None)

    n_checked = len(only or queries)
    print(f"\n{n_checked - len(failures)}/{n_checked} pass")
    out_json = os.environ.get("CHECK_ORACLES_JSON")
    if out_json:
        with open(out_json, "w") as fh:
            json.dump({"sf_dir": sf_dir, "master": master, "results": results}, fh, indent=1)
        print(f"wrote {out_json}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
