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
changed-set is resolved with a join against the manifest (never a
driver-side key list); unchanged tiles cost one aggregation row each,
not an encode."""

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
    row count guards the bit_xor checksum's even-duplicate blind spot —
    and a reverse anti-join finds tiles with no surviving input rows so
    their stale payloads are removed from latest-wins reads.

    The previous run's input checksums live in the ``tiles_inputs``
    table (committed alongside the payloads, latest-wins); the current
    assignment's checksums are joined against them to find work.

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
    cur = input_checksums(assigned).persist()
    total = cur.count()

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
    diff_keys = (
        cur.join(prev_latest, "tile_key", "left")
        .filter(
            F.col("_prev_sum").isNull()
            | (F.col("_prev_sum") != F.col("input_checksum"))
            | (F.col("_prev_n") != F.col("n_rows"))
        )
        .select("tile_key")
    )
    # tiles whose input rows ALL disappeared are absent from `cur`, so
    # the forward join above never sees them; find them with the reverse
    # anti-join and fold their buckets into the rewrite so latest-wins
    # reads drop the stale payload.
    vanished_keys = prev_latest.join(
        cur, "tile_key", "left_anti"
    ).select("tile_key").persist()
    n_removed = vanished_keys.count()
    # widen to whole buckets: a bucket's overwrite snapshot must
    # carry ALL its tiles or latest-wins reads would drop the
    # unchanged ones. Vanished tiles fold their buckets in too — the
    # rewritten bucket simply no longer contains them.
    changed_buckets = diff_keys.union(vanished_keys).select(
        _bucket_of(F.col("tile_key"), partition_buckets).alias("_b")
    ).distinct()
    changed_keys = (
        cur.join(
            changed_buckets,
            _bucket_of(F.col("tile_key"), partition_buckets)
            == changed_buckets["_b"],
            "left_semi",
        )
        .select("tile_key")
        .persist()
    )
    part_of_tile = _bucket_of(F.col("tile_key"), partition_buckets)
    if n_removed:
        # a bucket whose CURRENT tile set is empty gets no overwrite
        # snapshot from the rewrite below (nothing to write), so its
        # stale rows would survive — tombstone those buckets directly
        empty_buckets = changed_buckets.join(
            cur.select(
                _bucket_of(F.col("tile_key"), partition_buckets).alias("_b")
            ).distinct(),
            "_b",
            "left_anti",
        )
        lake.commit_tombstones("tiles", "tombstone", empty_buckets, "_b")
        lake.commit_tombstones(
            "tiles_inputs", "tombstone", empty_buckets, "_b"
        )
    n_changed = changed_keys.count()

    if n_changed:
        todo = assigned.join(
            changed_keys,
            _tile_key() == changed_keys["tile_key"],
            "left_semi",
        )
        payloads = (
            encode_assigned(
                todo,
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
        new_sums = (
            cur.join(changed_keys, "tile_key", "left_semi")
            .select("tile_key", "input_checksum", "n_rows")
            .withColumn("_part", part_of_tile)
        )
        lake.commit_partitions(
            "tiles_inputs", "inputs", new_sums, "_part", mode="overwrite",
            cluster=True,
        )
    assigned.unpersist()
    cur.unpersist()
    changed_keys.unpersist()
    vanished_keys.unpersist()
    return {
        "changed": int(n_changed),
        "unchanged": int(total - n_changed),
        "removed": int(n_removed),
        "total": int(total),
    }
