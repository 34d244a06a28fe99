"""Incremental materialization: only changed tiles re-encode; the
latest-wins read always equals a full recompute."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.delta import _bucket_of, delta_materialize
from cov_tiles_spark.pipeline.lineage import IcebergLite
from cov_tiles_spark.pipeline.materialize import assign_tiles, encode_assigned

ZOOMS = [2, 3]
COLS = ["image_id", "caption", "fmt", "w", "h", "phash", "lon", "lat"]


@pytest.fixture()
def lake(spark, tmp_path):
    return IcebergLite(spark, str(tmp_path / "lake"))


def _corpus(spark, mutate: bool = False, extra: bool = False):
    rows = []
    for i in range(200):
        lon = -170.0 + (i * 37 % 340)
        lat = -75.0 + (i * 53 % 150)
        cap = "edited" if (mutate and i == 7) else f"cap{i}"
        rows.append((f"img{i:05d}", cap, "raw", 8, 8, i * 31 + 7, lon, lat))
    if extra:
        rows.append(("imgX0001", "new", "raw", 8, 8, 99, 12.3, 45.6))
    return spark.createDataFrame(
        rows,
        "image_id string, caption string, fmt string, w int, h int, "
        "phash long, lon double, lat double",
    )


def _full(spark, corpus):
    return {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in encode_assigned(
            assign_tiles(corpus.select(*COLS), ZOOMS),
            with_mvt_baseline=False,
        ).collect()
    }


def _first_commit_ns(lake) -> int:
    """Commit time of the payload table's first snapshot."""
    return (
        lake.manifests()
        .filter(F.col("table") == "tiles")
        .agg(F.min("committed_at_ns"))
        .collect()[0][0]
    )


def _latest(lake):
    return {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in lake.read_table("tiles", latest_only=True).collect()
    }


def _snapshot_dirs(lake) -> set[str]:
    """Snapshot directories of the ``tiles`` table."""
    return set(glob.glob(f"{lake.root}/tiles/snapshot_id=*"))


def _buckets_of(spark, tiles, buckets: int) -> set[str]:
    """Buckets of the given (z, x, y) tiles, recomputed from their keys."""
    keys = spark.createDataFrame(
        [(f"{z}_{x}_{y}",) for z, x, y in tiles], "tile_key string"
    )
    return {
        r._b for r in keys.select(
            _bucket_of(F.col("tile_key"), buckets).alias("_b")
        ).collect()
    }


def test_delta_runs(spark, lake):
    v1 = _corpus(spark)
    s1 = delta_materialize(lake, v1, ZOOMS)
    assert s1["changed"] == s1["total"] > 0 and s1["unchanged"] == 0
    assert _latest(lake) == _full(spark, v1)

    # identical input: nothing re-encodes, and nothing is committed
    snaps = _snapshot_dirs(lake)
    n_manifest = lake.manifests().count()
    s2 = delta_materialize(lake, v1, ZOOMS)
    assert s2["changed"] == 0 and s2["unchanged"] == s1["total"]
    assert _snapshot_dirs(lake) == snaps
    assert lake.manifests().count() == n_manifest

    # one record's caption edited + one new record in a fresh area:
    # only the buckets of the touched tiles re-encode
    v2 = _corpus(spark, mutate=True, extra=True)
    s3 = delta_materialize(lake, v2, ZOOMS)
    assert 0 < s3["changed"] < s3["total"]
    assert s3["total"] >= s1["total"]
    # and the latest-wins view equals a from-scratch recompute of v2
    assert _latest(lake) == _full(spark, v2)

    # time travel still shows the v1 payloads before the second commit
    t_v1 = _first_commit_ns(lake)
    old = {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in lake.read_table(
            "tiles", as_of_ns=t_v1, latest_only=True
        ).collect()
    }
    assert old == _full(spark, v1)


def _corpus_rows(spark, rows):
    return spark.createDataFrame(
        rows,
        "image_id string, caption string, fmt string, w int, h int, "
        "phash long, lon double, lat double",
    )


@pytest.mark.parametrize("buckets", [16])
def test_delta_removes_vanished_tiles(spark, lake, buckets):
    """A tile whose input rows all disappear must drop out of the
    latest-wins view (bucket rewrite, or bucket tombstone once the
    bucket empties), and time travel keeps the old payload."""
    v1 = _corpus(spark)
    delta_materialize(lake, v1, ZOOMS, partition_buckets=buckets)
    t_v1 = _first_commit_ns(lake)

    # keep only a lone record in one corner of the world: every other
    # tile's inputs vanish entirely
    v2 = _corpus_rows(
        spark, [("img00000", "cap0", "raw", 8, 8, 7, -170.0, -75.0)]
    )
    s2 = delta_materialize(lake, v2, ZOOMS, partition_buckets=buckets)
    assert s2["removed"] > 0
    assert _latest(lake) == _full(spark, v2)
    # one tombstone snapshot, on ``tiles``, over exactly the buckets
    # left with no current tile
    emptied = _buckets_of(spark, _full(spark, v1), buckets) - _buckets_of(
        spark, _full(spark, v2), buckets
    )
    assert emptied
    tombs = lake.manifests().filter(F.col("stage") == "tombstone").collect()
    assert {r.table for r in tombs} == {"tiles"}
    assert len({r.snapshot_id for r in tombs}) == 1
    assert sorted(r.partition_key for r in tombs) == sorted(emptied)
    # time travel before the deletion still shows v1
    old = {
        (r.z, r.x, r.y): bytes(r.payload)
        for r in lake.read_table(
            "tiles", as_of_ns=t_v1, latest_only=True
        ).collect()
    }
    assert old == _full(spark, v1)

    # resurrection: the same corpus returns — the buckets were
    # tombstoned, so the tiles read as NEW and re-encode (not wrongly "unchanged")
    s3 = delta_materialize(lake, v1, ZOOMS, partition_buckets=buckets)
    assert s3["removed"] == 0
    assert _latest(lake) == _full(spark, v1)


@pytest.mark.parametrize("buckets", [16])
def test_delta_detects_even_duplicate_edit(spark, lake, buckets):
    """Adding an EVEN number of identical rows bit_xor-cancels to the
    same input checksum; the n_rows comparison must still flag the
    tile as changed."""
    v1 = _corpus(spark)
    delta_materialize(lake, v1, ZOOMS, partition_buckets=buckets)

    dup = _corpus_rows(
        spark,
        [("img00000", "cap0", "raw", 8, 8, 7, -170.0, -75.0)] * 2,
    )
    v2 = v1.union(dup)
    s2 = delta_materialize(lake, v2, ZOOMS, partition_buckets=buckets)
    assert s2["changed"] > 0
    assert _latest(lake) == _full(spark, v2)


def test_delta_bucketed(spark, lake):
    """Bucket-granularity overwrite: fewer partitions, whole changed
    buckets re-encode, latest-wins view still equals full recompute."""
    v1 = _corpus(spark)
    s1 = delta_materialize(lake, v1, ZOOMS, partition_buckets=16)
    assert s1["changed"] == s1["total"]
    assert _latest(lake) == _full(spark, v1)

    s2 = delta_materialize(lake, v1, ZOOMS, partition_buckets=16)
    assert s2["changed"] == 0

    v2 = _corpus(spark, mutate=True, extra=True)
    s3 = delta_materialize(lake, v2, ZOOMS, partition_buckets=16)
    # widened to whole buckets, but still far below a full rebuild
    assert 0 < s3["changed"] < s3["total"] // 2
    assert _latest(lake) == _full(spark, v2)


def test_changed_input_run_job_budget(spark, lake):
    """Control-plane growth stays visible without perfbench: a second,
    changed-input run on this corpus runs at most the 15 Spark jobs
    measured with one commit of one table per run (one metrics collect,
    one data write, one manifest file) and a latest read of the previous
    checksums by partition path."""
    delta_materialize(lake, _corpus(spark), ZOOMS)
    sc = spark.sparkContext
    sc.setJobGroup("delta-job-budget", "changed-input delta run")
    try:
        stats = delta_materialize(lake, _corpus(spark, mutate=True, extra=True), ZOOMS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("delta-job-budget")
    assert 0 < stats["changed"] < stats["total"]
    assert len(jobs) <= 15, len(jobs)
