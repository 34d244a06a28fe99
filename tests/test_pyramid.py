"""Pyramid rollup == direct per-zoom assignment, byte-for-byte."""

from __future__ import annotations

from pyspark.sql import functions as F

from cov_tiles_spark.io.synth import images_df
from cov_tiles_spark.pipeline.materialize import assign_tiles, encode_assigned
from cov_tiles_spark.pipeline.pyramid import materialize_pyramid, parent_rows


def _payload_map(df):
    return {
        (r["z"], r["x"], r["y"]): (r["num_features"], bytes(r["payload"]))
        for r in df.collect()
    }


def _direct(spark, imgs, zooms, cap):
    cols = ["image_id", "caption", "fmt", "w", "h", "phash", "lon", "lat"]
    return encode_assigned(
        assign_tiles(imgs.select(*cols), zooms),
        max_features_per_tile=cap,
        with_mvt_baseline=False,
        sample_key=F.xxhash64("image_id"),
    )


def test_parent_rows_halve_grid(spark):
    imgs = images_df(spark, 400, partitions=4)
    cols = ["image_id", "caption", "fmt", "w", "h", "phash", "lon", "lat"]
    a6 = assign_tiles(imgs.select(*cols), [6])
    a5 = assign_tiles(imgs.select(*cols), [5])
    derived = parent_rows(a6).select(
        "image_id", "z", "x", "y", "local_x", "local_y"
    )
    want = {
        r["image_id"]: (r["z"], r["x"], r["y"], r["local_x"], r["local_y"])
        for r in a5.collect()
    }
    got = {
        r["image_id"]: (r["z"], r["x"], r["y"], r["local_x"], r["local_y"])
        for r in derived.collect()
    }
    assert got == want


def test_rollup_equals_direct_with_cap(spark):
    imgs = images_df(spark, 2000, partitions=8).persist()
    # cap=40 binds hard at z2/z3 (z2 has at most 16 tiles for 2000 recs)
    roll = _payload_map(
        materialize_pyramid(
            imgs, 2, 6, max_features_per_tile=40, with_mvt_baseline=False
        )
    )
    direct = _payload_map(_direct(spark, imgs, [2, 3, 4, 5, 6], cap=40))
    assert roll == direct
    imgs.unpersist()
