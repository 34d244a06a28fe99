"""Incremental batch materialization: re-encode ONLY tiles whose input
rows changed since the last run.

A daily 100 TB ingest touches a sliver of the tile pyramid; recomputing
every tile is the dominant waste in naive batch jobs. This operator
compares each tile's INPUT checksum (order-insensitive bit_xor of
xxhash64 over the assigned feature rows) against the checksum recorded
in the IcebergLite manifest by the previous run, and re-encodes only
new-or-changed tiles, committing them as overwrite snapshots — readers
use ``lake.read_table("tiles", latest_only=True)`` and always see exactly
the full-recompute result (asserted in tests), while time travel keeps
every previous version readable.

Scale shape: the checksum pass is a pure JVM hash aggregation over the
(already computed) assignment — no Python, map-side combined; the
change set is one per-bucket plan, at most ``partition_buckets`` rows,
collected once (never a per-tile key list); unchanged tiles cost one
aggregation row each, not an encode."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.lineage import IcebergLite
from cov_tiles_spark.pipeline.materialize import (
    _STREAM_COLS,
    assign_tiles,
    encode_assigned,
)


def _tile_key() -> F.Column:
    # underscore join: "/" in hive partition values gets %-escaped in
    # directory names — legal but noisy; keep keys filesystem-clean.
    # (a function, not a module constant: building a Column requires an
    # active SparkContext, which imports must not assume)
    return F.concat_ws("_", F.col("z"), F.col("x"), F.col("y"))


def input_checksums(assigned: DataFrame) -> DataFrame:
    """(tile_key, input_checksum, n_rows) per tile — order-insensitive
    (bit_xor) and ANSI-overflow-safe."""
    cols = [c for c in _STREAM_COLS if c not in ("z", "x", "y")]
    return (
        assigned.groupBy(_tile_key().alias("tile_key"))
        .agg(
            F.expr(
                f"bit_xor(xxhash64(z, x, y, {', '.join(cols)}))"
            ).alias("input_checksum"),
            F.count("*").alias("n_rows"),
        )
    )


def _bucket_of(key: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("string")


def delta_materialize(
    lake: IcebergLite,
    images: DataFrame,
    zooms: list[int],
    max_features_per_tile: int = 20_000,
    partition_buckets: int = 32,
) -> dict:
    """Encode new-or-changed tiles only, as gen-A payloads committed to
    the lake's ``tiles`` table; returns
    ``{"changed": n, "unchanged": n, "removed": n, "total": n}`` (tile
    counts; ``changed`` counts every re-encoded tile; ``removed`` counts
    tiles whose inputs vanished — dropped via their bucket's rewrite, or
    tombstoned with it when the bucket empties).

    Change detection compares (input_checksum, n_rows) per tile — the
    row count guards the bit_xor checksum's even-duplicate blind spot.
    The previous run's input checksums live in the ``tiles_inputs``
    table (committed alongside the payloads, latest-wins); a full outer
    join of the current checksums against them, grouped by bucket,
    gives one plan row per bucket: current, vanished and new-or-changed
    tile counts. That plan, at most ``partition_buckets`` rows, is
    collected once; the buckets to rewrite, the buckets to tombstone
    and every returned count come from it.

    ``partition_buckets``: overwrite granularity. Tiles hash into that
    many hive partitions, so file counts stay bounded (one directory
    per tile is the small-files trap at pyramid scale: 778k dirs at
    z12, measured 6x slower writes than the encode itself) and
    no-change re-runs cost only the checksum pass (measured 5% of a
    rebuild). A bucket rewrites WHOLE, so the expected re-encode is
    total x (1-(1-1/B)^changed): fine when changed tiles << B, a
    near-full rebuild for globally scattered edits touching more tiles
    than buckets (measured 92% at B=256 with 2.1k scattered changed
    tiles). The result is byte-identical to a full recompute."""
    cols = ["image_id", "caption", "fmt", "w", "h", "phash", "lon", "lat"]
    assigned = assign_tiles(images.select(*cols), zooms).persist()
    cur = input_checksums(assigned).withColumn(
        "_part", _bucket_of(F.col("tile_key"), partition_buckets)
    )

    try:
        prev_latest = lake.read_table(
            "tiles_inputs", latest_only=True
        ).select(
            "tile_key",
            F.col("input_checksum").alias("_prev_sum"),
            F.col("n_rows").alias("_prev_n"),
        )
    except FileNotFoundError:  # first run: everything is new
        prev_latest = lake.spark.createDataFrame(
            [], "tile_key string, _prev_sum long, _prev_n long"
        )
    # n_rows is compared alongside the checksum: bit_xor cancels when an
    # EVEN number of identical rows is added (x^x=0), so "same checksum"
    # alone wrongly skips such edits; the row count breaks the tie.
    dirty = F.col("input_checksum").isNotNull() & (
        F.col("_prev_sum").isNull()
        | (F.col("_prev_sum") != F.col("input_checksum"))
        | (F.col("_prev_n") != F.col("n_rows"))
    )
    # the whole change set as one row per bucket: the full outer join
    # also sees previous tiles with no current input rows (n_gone)
    plan = (
        cur.join(prev_latest, "tile_key", "full_outer")
        .groupBy(_bucket_of(F.col("tile_key"), partition_buckets).alias("_b"))
        .agg(
            F.count("input_checksum").alias("n_cur"),
            F.count_if(F.col("input_checksum").isNull()).alias("n_gone"),
            F.count_if(dirty).alias("n_dirty"),
        )
        .collect()
    )
    # a bucket rewrites WHOLE: its overwrite snapshot must carry ALL its
    # current tiles or latest-wins reads would drop the unchanged ones,
    # and the rewritten bucket simply no longer holds its vanished tiles
    rewrite = [r for r in plan if r.n_dirty or r.n_gone]
    changed = [r._b for r in rewrite]
    n_changed = sum(r.n_cur for r in rewrite)
    # a bucket with no CURRENT tile gets no overwrite snapshot (nothing
    # to write), so its stale rows would survive: tombstone it instead
    emptied = [r._b for r in plan if r.n_gone and not r.n_cur]
    lake.commit_tombstones("tiles", "tombstone", emptied)
    lake.commit_tombstones("tiles_inputs", "tombstone", emptied)

    if n_changed:
        part_of_tile = _bucket_of(_tile_key(), partition_buckets)
        payloads = (
            encode_assigned(
                assigned.filter(part_of_tile.isin(changed)),
                max_features_per_tile=max_features_per_tile,
                with_mvt_baseline=False,
            )
            .withColumn("tile_key", _tile_key())
            .withColumn("_part", part_of_tile)
        )
        # cluster=True: one file per bucket dir instead of one per
        # (encode task x bucket) — 812 -> 32 files at sf0.1, and the
        # latest-wins read scan shrinks accordingly (guide §6)
        lake.commit_partitions(
            "tiles", "encode", payloads, "_part", mode="overwrite",
            cluster=True,
        )
        # record the inputs that produced those payloads, same snapshot
        # discipline: one row per re-encoded tile
        lake.commit_partitions(
            "tiles_inputs", "inputs",
            cur.filter(F.col("_part").isin(changed)), "_part",
            mode="overwrite", cluster=True,
        )
    assigned.unpersist()
    total = sum(r.n_cur for r in plan)
    return {
        "changed": n_changed,
        "unchanged": total - n_changed,
        "removed": sum(r.n_gone for r in plan),
        "total": total,
    }
