"""IcebergLite commit, manifest and read semantics (SURVEY §4.2 /
north_rule)."""

from __future__ import annotations

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.delta import delta_materialize
from cov_tiles_spark.pipeline.lineage import IcebergLite


@pytest.fixture()
def lake(spark, tmp_path):
    return IcebergLite(spark, str(tmp_path / "lake"))


def test_commit_and_read(spark, lake):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("bucket")
    )
    rows = lake.commit_partitions("t1", "s1", df, "bucket")
    assert len(rows) == 4
    assert sum(r.n_rows for r in rows) == 100
    assert all(r.checksum is not None for r in rows)

    back = lake.read_table("t1")
    assert back.count() == 100
    assert set(back.columns) == {"id", "bucket"}
    # the rows returned are the rows committed
    assert sorted(rows) == sorted(
        lake.manifests().filter(F.col("table") == "t1").collect()
    )


def test_unreadable_manifest_raises_instead_of_reading_empty(spark, lake):
    """A manifest that cannot be read must fail loudly: read as empty, a
    delta run would take every committed tile for new."""
    df = spark.range(8).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("bucket")
    )
    lake.commit_partitions("t_bad", "s1", df, "bucket")
    parts = glob.glob(f"{lake.root}/_manifests/*.parquet")
    assert parts
    for p in parts + [f"{lake.root}/_manifests/part-x.parquet"]:
        with open(p, "wb") as f:
            f.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        lake.manifests().collect()
    with pytest.raises(Py4JJavaError):
        lake.read_table("t_bad", latest_only=True)


def test_read_table_and_delta_rerun_on_uri_root(spark, tmp_path):
    """``read_table`` lists snapshots through the Hadoop FileSystem too:
    on a ``file://`` root it returns the committed rows, so an identical
    second delta run finds its previous checksums and re-encodes
    nothing."""
    uri_lake = IcebergLite(spark, (tmp_path / "lake").as_uri())
    df = spark.range(12).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("bucket")
    )
    uri_lake.commit_partitions("t_uri", "s1", df, "bucket")
    assert sorted(r.id for r in uri_lake.read_table("t_uri").collect()) == list(
        range(12)
    )

    images = spark.createDataFrame(
        [
            (f"img{i:05d}", f"cap{i}", "raw", 8, 8, i, -170.0 + 29 * i, -70.0 + 11 * i)
            for i in range(12)
        ],
        "image_id string, caption string, fmt string, w int, h int, "
        "phash long, lon double, lat double",
    )
    first = delta_materialize(uri_lake, images, [2, 3], partition_buckets=8)
    assert first["changed"] == first["total"] > 0
    second = delta_materialize(uri_lake, images, [2, 3], partition_buckets=8)
    assert second["changed"] == 0 and second["unchanged"] == first["total"]


@pytest.mark.parametrize("leftover", [None, "_temporary/0"])
def test_manifest_dir_without_data_files_reads_empty(spark, lake, leftover):
    """A first manifest write that failed leaves ``_manifests/`` with no
    data file (at most the committer's ``_temporary/``); that is still
    "nothing committed", and the next commit must go on."""
    mdir = f"{lake.root}/_manifests"
    os.makedirs(mdir if leftover is None else f"{mdir}/{leftover}")
    assert lake.manifests().count() == 0
    df = spark.range(8).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("bucket")
    )
    assert len(lake.commit_partitions("t_left", "s1", df, "bucket")) == 2
    assert lake.read_table("t_left").count() == 8


def test_metrics_and_lineage_fields(spark, lake):
    df = spark.range(10).select(
        F.col("id"), F.lit("a").alias("bucket")
    )
    lake.commit_partitions("t4", "stage_x", df, "bucket")
    m = lake.manifests().filter(F.col("table") == "t4").collect()[0]
    assert m.stage == "stage_x"
    assert m.n_rows == 10
    assert m.n_bytes > 0
    assert m.committed_at_ns > 0


def test_manifest_rows_are_the_snapshot_log(spark, lake):
    a = spark.range(5).select(F.col("id"), F.lit("p1").alias("bucket"))
    lake.commit_partitions("tt", "s1", a, "bucket")
    t_between = lake.manifests().agg(F.max("committed_at_ns")).collect()[0][0]
    b = spark.range(5, 12).select(F.col("id"), F.lit("p2").alias("bucket"))
    lake.commit_partitions("tt", "s2", b, "bucket")

    assert lake.read_table("tt").count() == 12

    # one partition per commit, so the manifest rows are the snapshot log
    log = (
        lake.manifests().filter(F.col("table") == "tt")
        .orderBy("committed_at_ns").collect()
    )
    assert len(log) == 2
    assert [r.stage for r in log] == ["s1", "s2"]
    assert [r.n_rows for r in log] == [5, 7]
    assert log[0].committed_at_ns <= t_between < log[1].committed_at_ns


def test_clustered_commit_writes_one_file_per_partition(spark, lake):
    """A commit repartitions by the partition column before the hive
    write: each partition dir holds ONE file (vs one per upstream task
    touching it — the small-files shape the delta gate measured as 812
    files / 2.4x slower commits+reads)."""
    df = (
        spark.range(400)
        .repartition(8)  # every task holds rows of every bucket
        .select(
            F.col("id"), (F.col("id") % 4).cast("string").alias("bucket")
        )
    )
    m = lake.commit_partitions("tc", "load", df, "bucket")
    assert sorted(r.partition_key for r in m) == ["0", "1", "2", "3"]
    for pdir in glob.glob(f"{lake.root}/tc/snapshot_id=*/bucket=*"):
        files = glob.glob(f"{pdir}/part-*.parquet")
        assert len(files) == 1, (pdir, files)
    got = lake.read_table("tc", latest_only=True)
    assert got.count() == 400
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(400))


def test_latest_read_is_a_plain_scan_of_winning_partitions(spark, lake):
    """A latest read hands Spark only the winning partition directories:
    the plan has no join, window or broadcast, a partition committed
    again reads from its newest snapshot only, and a partition named
    ``_part=…`` (hidden by Spark's ``_`` rule only without ``=``) is
    read."""
    def rows(ids, tag):
        return spark.createDataFrame(
            [(i, tag, str(i % 3)) for i in ids], "id long, tag string, _part string"
        )

    lake.commit_partitions("tl", "s1", rows(range(9), "old"), "_part")
    lake.commit_partitions("tl", "s2", rows([1, 4, 10], "new"), "_part")
    got = lake.read_table("tl", latest_only=True)
    plan = got._jdf.queryExecution().executedPlan().toString()
    for op in ("Join", "Window", "BroadcastExchange"):
        assert op not in plan, plan
    assert sorted((r.id, r.tag) for r in got.collect()) == sorted(
        [(i, "old") for i in (0, 2, 3, 5, 6, 8)] + [(1, "new"), (4, "new"), (10, "new")]
    )
    assert lake.read_table("tl").count() == 12


def test_fully_tombstoned_table_reads_empty(spark, lake):
    """Tombstoning every live partition leaves a table that reads as zero
    rows with its columns, not an error; a table never committed
    raises."""
    df = spark.range(6).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("bucket")
    )
    lake.commit_partitions("tz", "s1", df, "bucket")
    lake.commit_tombstones("tz", "tombstone", ["0", "1"])
    gone = lake.read_table("tz", latest_only=True)
    assert gone.count() == 0 and set(gone.columns) == {"id", "bucket"}
    assert lake.read_table("tz").count() == 6  # the tombstones hide, not delete
    with pytest.raises(FileNotFoundError):
        lake.read_table("tz_never")
