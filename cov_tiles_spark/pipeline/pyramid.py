"""Pyramid rollup: build parent tiles from capped child tiles instead of
re-shuffling every record once per zoom level.

``materialize_tiles`` assigns each record to EVERY requested zoom
(explode) and pays one exchange of |records| x |zooms| rows. This module
shuffles the full corpus once — at the deepest zoom — and derives each
coarser level from the level below it: tile ids halve (``gx >> 1``), and
the per-tile cap re-applies to the union of at most four capped children.
At a z2-z10 pyramid that is ~1/9th the exchange volume of the direct
path on the big side, with the per-level exchanges bounded by
``tiles(z+1) * cap`` rows regardless of corpus size — the shape that
matters at 10^12 records.

EXACTNESS (provable, and proven in tests/test_pyramid.py): with a
zoom-INDEPENDENT cap-selection key, rollup output is byte-identical to
direct assignment at every level.

- Grid halving is exact even in floats: the assignment computes
  ``u_z = mx * 2^z`` (exponent scaling of the same double — exact),
  ``x = floor(u_z)``, ``local = floor(frac(u_z) * extent)`` (subtraction
  of the floor and the extent multiply are both exact), so the global
  grid coordinate equals ``floor(mx * 2^(z+12))`` with no intermediate
  rounding — and halving a floor of an exact power-of-two scaling is the
  floor at the next level up: ``gx_{z-1} = gx_z >> 1``.
- The cap keeps each tile's ``k`` smallest rows by ``(key, id)``. Every
  one of a parent tile's k smallest rows lies in some child, where it
  ranks at most k — so it survived the child's cap. Induction extends
  this through every level, so "cap the union of capped children" ==
  "cap the full extent". The zoom-SALTED default key of
  ``materialize_tiles`` breaks this premise (each level selects an
  independent sample), which is why ``encode_assigned`` takes the key
  as a parameter.

The per-level capped row sets are persisted: each feeds both its own
encode and the next level's derivation, and an unpersisted lineage would
recompute the deep-zoom exchange once per level — the classic iterative
DataFrame trap.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.materialize import assign_tiles, encode_assigned
from cov_tiles_spark.spatial.tiling import DEFAULT_EXTENT

_ROW_COLS = ("image_id", "caption", "fmt", "w", "h", "phash")


def _cap_rows(assigned: DataFrame, max_features: int) -> DataFrame:
    """Keep each tile's ``max_features`` smallest rows by the
    zoom-independent key (one exchange on the tile id)."""
    w = Window.partitionBy("z", "x", "y").orderBy(
        F.xxhash64("image_id"), F.col("image_id")
    )
    return (
        assigned.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= max_features)
        .drop("_rank")
    )


def parent_rows(rows: DataFrame) -> DataFrame:
    """Derive the z-1 assignment from a z assignment (narrow map)."""
    extent = DEFAULT_EXTENT
    gx = F.col("x") * extent + F.col("local_x")
    gy = F.col("y") * extent + F.col("local_y")
    px = F.shiftright(F.col("x"), 1)
    py = F.shiftright(F.col("y"), 1)
    return rows.select(
        (F.col("z") - 1).alias("z"),
        px.alias("x"),
        py.alias("y"),
        (F.shiftright(gx, 1) - px * extent).cast("int").alias("local_x"),
        (F.shiftright(gy, 1) - py * extent).cast("int").alias("local_y"),
        *_ROW_COLS,
    )


def materialize_pyramid(
    images: DataFrame,
    zmin: int,
    zmax: int,
    max_features_per_tile: int = 20_000,
    with_mvt_baseline: bool = True,
    row_bound: int | None = None,
) -> DataFrame:
    """records -> gen-A COVT payloads for every zoom in [zmin, zmax].

    Byte-identical to ``encode_assigned(assign_tiles(images, zooms),
    sample_key=xxhash64(image_id))`` at every level.

    The per-level window cap is a COST optimization, not a correctness
    requirement: encode's inline stream cap makes every payload exact
    from uncapped rows, and uncapped rows are a superset of any parent's
    cap survivors — so the window pass is inserted only at levels where
    it can shrink the row set (``4^z * cap`` below the current row-count
    upper bound). In the planetary regime (records >> tiles(zmax) * cap,
    the 10^12-image shape) that caps every level and total exchange
    volume collapses from O(records x zooms) to
    O(records + sum_z tiles(z) * cap); at small scale it degrades to the
    direct path's volume spread over per-level exchanges.

    ``row_bound``: known upper bound on the corpus row count (defaults to
    a count() of ``images``)."""
    cols = ["image_id", "caption", "fmt", "w", "h", "phash", "lon", "lat"]
    zkey = F.xxhash64("image_id")
    bound = row_bound if row_bound is not None else images.count()
    # persist the one full-corpus assignment; coarser levels are narrow
    # projections of it (cheap to recompute from cache) until a window
    # cap materializes a shrunken row set
    rows = assign_tiles(images.select(*cols), [zmax]).persist()
    out: list[DataFrame] = []
    for z in range(zmax, zmin - 1, -1):
        tile_bound = (1 << (2 * z)) * max_features_per_tile
        if tile_bound < bound:
            rows = _cap_rows(rows, max_features_per_tile).persist()
            bound = tile_bound
        # partition count scaled to the level's row bound: a coarse
        # level holding a few thousand capped rows must not pay a
        # full-width task wave (task-launch overhead dominated the
        # per-level stages when every level ran default*8 partitions)
        parallelism = rows.sparkSession.sparkContext.defaultParallelism
        parts = int(max(16, min(parallelism * 8, bound // 4000 + 1)))
        out.append(
            encode_assigned(
                rows,
                max_features_per_tile=max_features_per_tile,
                with_mvt_baseline=with_mvt_baseline,
                sample_key=zkey,
                num_parts=parts,
            )
        )
        if z > zmin:
            rows = parent_rows(rows)
    return reduce(DataFrame.unionAll, out)
