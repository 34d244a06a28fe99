"""The row-map driver (``cov_tiles_spark/rows.py``) and the output schemas
of the package operators that run on it: names, order, types and
nullability."""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from cov_tiles_spark.io.synth import audio_df, images_df, video_df
from cov_tiles_spark.operators.av import (
    audio_features, frame_sample_features, resize_images,
)
from cov_tiles_spark.pipeline.overzoom import overzoom_tiles
from cov_tiles_spark.rows import map_rows
from cov_tiles_spark.sources.shards import read_webdataset
from cov_tiles_spark.spatial.generalize import (
    clip_lines, clip_rings, simplify_lines, simplify_rings,
)

GEO = "id bigint, xs array<bigint>, tag string, ys array<bigint>"


def _geo(spark):
    rows = [
        (1, [0, 10, 20, 30], "a", [0, 3, 0, 3]),
        (2, [-50, 500, 500], "b", [5, 5, 900]),
    ]
    return spark.createDataFrame(rows, GEO)


def test_kernel_dropping_every_row_yields_an_empty_result(spark):
    """No batch has output rows: none is yielded, so the empty frame
    never meets the ``array<long>`` conversion."""
    out = map_rows(
        _geo(spark), "id bigint, parts array<bigint>", ("xs",), ("parts",),
        lambda xs: [],
    )
    assert out.collect() == []


def test_kernel_with_no_carried_columns_still_emits_rows(spark):
    out = map_rows(
        _geo(spark), "n bigint, first bigint", ("xs",), ("n", "first"),
        lambda xs: [(len(xs), int(xs[0]))],
    )
    assert sorted(map(tuple, out.collect())) == [(3, -50), (4, 0)]


def test_exploding_kernel_keeps_input_then_kernel_order(spark):
    df = spark.createDataFrame(
        [(i, list(range(i))) for i in range(5)], "id bigint, xs array<bigint>"
    ).coalesce(1)
    out = map_rows(
        df, "id bigint, x bigint", ("xs",), ("x",),
        lambda xs: [(int(x),) for x in xs],
    )
    assert [tuple(r) for r in out.collect()] == [
        (i, x) for i in range(5) for x in range(i)
    ]


def test_carried_columns_keep_their_schema_position(spark):
    out = map_rows(
        _geo(spark), "n int, tag string, xs array<bigint>, id bigint",
        ("xs", "ys"), ("n", "xs"), lambda xs, ys: [(len(ys), list(xs[:1]))],
    )
    assert out.columns == ["n", "tag", "xs", "id"]
    assert sorted(map(tuple, out.collect())) == [(3, "b", [-50], 2), (4, "a", [0], 1)]


_COUNTED = GEO + ", n_in int NOT NULL, n_out int NOT NULL"
_BOX = (0, 0, 256, 256)

# operator -> (output for a small input, its pinned schema)
_OPERATORS = {
    "simplify_lines": (lambda spark, d: simplify_lines(_geo(spark), 8), _COUNTED),
    "simplify_rings": (lambda spark, d: simplify_rings(_geo(spark), 8), _COUNTED),
    "clip_rings": (
        lambda spark, d: clip_rings(_geo(spark), _BOX),
        _COUNTED + ", area2 bigint NOT NULL",
    ),
    "clip_lines": (
        lambda spark, d: clip_lines(_geo(spark), _BOX),
        "id bigint, tag string, part int NOT NULL, xs array<bigint>, "
        "ys array<bigint>, n_in int NOT NULL, n_pts int NOT NULL",
    ),
    "audio_features": (
        lambda spark, d: audio_features(audio_df(spark, 2)),
        "asset_id string, sr int, fmt string, n_samples bigint, "
        "peak bigint, energy bigint, zero_crossings bigint",
    ),
    "frame_sample_features": (
        lambda spark, d: frame_sample_features(video_df(spark, 2), k=2),
        "asset_id string, w int, h int, n_frames int, fps int, "
        "fmt string, frames_sampled int, frame_phash_xor bigint",
    ),
    "resize_images": (
        lambda spark, d: resize_images(
            images_df(spark, 2, partitions=1), 4, 4
        ),
        "image_id string, fmt string, caption string, phash bigint, "
        "lon double, lat double, w int, h int, bytes binary",
    ),
    "overzoom_tiles": (
        lambda spark, d: overzoom_tiles(spark.createDataFrame(
            [], "z int, x int, y int, num_features bigint, payload binary, "
            "payload_bytes bigint, mvt_bytes bigint",
        )),
        "z int, x int, y int, num_features bigint, payload binary",
    ),
    "read_webdataset": (
        lambda spark, d: read_webdataset(spark, str(d)),
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash bigint",
    ),
}


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_operator_output_schema_is_pinned(spark, tmp_path, name):
    build, ddl = _OPERATORS[name]
    assert build(spark, tmp_path).schema == StructType.fromDDL(ddl)
