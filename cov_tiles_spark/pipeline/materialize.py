"""Tile materialization: image records → COVT tile payloads.

The Spark lifecycle equivalent of the reference's per-tile converter loop
(`CovtConverter.java:103-175`, traced in SURVEY.md §3.1):

    records → withColumn(tile ids)              narrow, codegen
            → mapInArrow(pre-cap)               narrow per-partition
                                                top-cap superset (only
                                                when the cap can bind)
            → repartition(hash(z,x,y))          the ONLY wide exchange
            → sortWithinPartitions(keys, _sk)   sample-ordered tiles
            → mapInArrow(streaming encode)      inline per-tile cap +
                                                vectorized codec work
            → (z, x, y, payload, stats)

Every Python stage takes and returns Arrow record batches; no stage
converts to pandas.

Scale design (SURVEY.md §4.2):
- **Bounded groups**: low-zoom tiles are inherently hot (z2 = 16 tiles
  worldwide). Groups are bounded *by construction* with a deterministic
  per-tile feature cap: the first ``max_features_per_tile`` rows of a
  tile in ``(xxhash64(image_id, z), image_id)`` order, a hash-ranked
  uniform sample — real tile pipelines cap per-tile features at low
  zoom for the same reason.
- **AQE skew split** handles residual partition skew in the shuffle
  (spark.sql.adaptive.skewJoin/coalescePartitions enabled in session.py).
- **Map-side partial agg**: raster-grid aggregates use built-in
  hash aggregation (sum/count), which Spark partially aggregates before
  the shuffle — no custom salting needed there.
- At 100 TB the exchange is hash(z,x,y); payload bytes never shuffle
  (images' pixel ``bytes`` are pruned out of the plan before the wide
  stage — only coords + small properties move).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.covt.decoder import GeometryColumn, decode_covt
from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput, encode_tile
from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType
from cov_tiles_spark.covt.mvt import mvt_point_layer_size
from cov_tiles_spark.spatial.tiling import (
    DEFAULT_EXTENT,
    tile_local_x,
    tile_local_y,
    tile_x,
    tile_y,
)

PAYLOAD_SCHEMA = (
    "z int, x int, y int, num_features long, payload binary, "
    "payload_bytes long, mvt_bytes long"
)


def assign_tiles(
    images: DataFrame, zooms: list[int], extent: int = DEFAULT_EXTENT
) -> DataFrame:
    """Narrow map: one output row per (record, zoom) with tile + local coords.

    Column-expression only — stays in whole-stage codegen; Catalyst prunes
    the heavy ``bytes`` column if the consumer doesn't select it.
    """
    lon, lat = F.col("lon"), F.col("lat")
    per_zoom = [
        F.struct(
            F.lit(z).alias("z"),
            tile_x(lon, z).alias("x"),
            tile_y(lat, z).alias("y"),
            tile_local_x(lon, z, tile_x(lon, z), extent).alias("local_x"),
            tile_local_y(lat, z, tile_y(lat, z), extent).alias("local_y"),
        )
        for z in zooms
    ]
    return images.withColumn("tile", F.explode(F.array(*per_zoom))).select(
        "*", "tile.*"
    ).drop("tile")


def _encode_tile_rows(
    z: int,
    x: int,
    y: int,
    ids: np.ndarray,
    local_x: np.ndarray,
    local_y: np.ndarray,
    caption: np.ndarray,
    fmt: np.ndarray,
    w: np.ndarray,
    h: np.ndarray,
    phash: np.ndarray,
    with_mvt_baseline: bool,
    wire_format: str = "gena",
) -> dict:
    """Core per-tile kernel over numpy arrays → one payload row (dict)."""
    # sort ascending by id (reference sorts building/poi/place layers by
    # id, CovtConverter.java:556-558)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    n = ids.shape[0]
    half = DEFAULT_EXTENT // 2
    vb = np.empty(2 * n, dtype=np.int32)
    vb[0::2] = np.clip(local_x[order], -half, DEFAULT_EXTENT + half - 1)
    vb[1::2] = np.clip(local_y[order], -half, DEFAULT_EXTENT + half - 1)
    geom = GeometryColumn(
        geometry_types=np.full(n, GeometryType.POINT, np.uint8), vertex_buffer=vb
    )
    caption = caption[order]
    fmt = fmt[order]
    w = w[order]
    h = h[order]
    phash = phash[order]
    props = {
        "caption": PropertyInput(ColumnDataType.STRING, caption),
        "fmt": PropertyInput(ColumnDataType.STRING, fmt),
        "w": PropertyInput(ColumnDataType.UINT_64, w),
        "h": PropertyInput(ColumnDataType.UINT_64, h),
        "phash": PropertyInput(ColumnDataType.INT_64, phash),
    }
    layer = LayerInput(
        name="images", geometry=geom, ids=ids, properties=props,
        extent=DEFAULT_EXTENT,
    )
    if wire_format == "genb":
        # self-describing (non-optimized) gen-B: no TileJSON sidecar needed
        from cov_tiles_spark.covt.genb import encode_tile_genb

        payload, _ = encode_tile_genb([layer], optimize_metadata=False)
    else:
        payload = encode_tile([layer])

    mvt_bytes = 0
    if with_mvt_baseline:
        # exact size of the real writer's output, computed arithmetically
        # (mvt_point_layer_size is verified byte-equal to encode_mvt; the
        # per-value Python varint writer was 87% of this kernel's profile
        # just to take len() of the bytes)
        mvt_bytes = mvt_point_layer_size(
            "images",
            ids,
            vb[0::2].astype(np.int64),
            vb[1::2].astype(np.int64),
            {
                "caption": caption,
                "fmt": fmt,
                "w": w.astype(np.int64),
                "h": h.astype(np.int64),
                "phash": phash.astype(np.int64),
            },
            DEFAULT_EXTENT,
        )

    return {
        "z": z, "x": x, "y": y, "num_features": n,
        "payload": payload, "payload_bytes": len(payload),
        "mvt_bytes": mvt_bytes,
    }


_STREAM_COLS = ("z", "x", "y", "image_id", "local_x", "local_y",
                "caption", "fmt", "w", "h", "phash")


def _concat_arrays(a: dict, b: dict) -> dict:
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def _extract_arrays_arrow(batch) -> dict[str, np.ndarray]:
    """Record batch → the encode kernel's numpy columns (guide §4.1/§4.2):
    taking the record batch directly skips an Arrow→pandas conversion,
    whose per-row Python string objects (image_id/caption/fmt over 3M
    rows) were ~2/3 of the encode stage's wall at sf1. Strings are
    dictionary-encoded in C and materialized as an object GATHER over
    the few unique values (new Python strings are created once per
    unique, not once per row)."""
    import pyarrow as pa

    def obj(name):
        d = batch.column(name).dictionary_encode()
        uniq = np.asarray(d.dictionary.to_pylist(), dtype=object)
        return uniq[d.indices.to_numpy(zero_copy_only=False)]

    def i64(name):
        return batch.column(name).to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False
        )

    id_col = batch.column("image_id")
    if pa.types.is_integer(id_col.type):
        ids = id_col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    else:
        import pyarrow.compute as pc

        ids = (
            pc.cast(pc.utf8_slice_codeunits(id_col, 4), pa.int64())
            .to_numpy(zero_copy_only=False)
        )
    return {
        "z": i64("z"),
        "x": i64("x"),
        "y": i64("y"),
        "ids": ids,
        "local_x": i64("local_x"),
        "local_y": i64("local_y"),
        "caption": obj("caption"),
        "fmt": obj("fmt"),
        "w": i64("w"),
        "h": i64("h"),
        "phash": i64("phash"),
    }


def _payload_batch(out: list[dict]):
    """list of per-tile payload dicts → one Arrow RecordBatch matching
    PAYLOAD_SCHEMA (ints as numpy, payload bytes via pa.array)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.array([r["z"] for r in out], np.int32)),
            pa.array(np.array([r["x"] for r in out], np.int32)),
            pa.array(np.array([r["y"] for r in out], np.int32)),
            pa.array(np.array([r["num_features"] for r in out], np.int64)),
            pa.array([r["payload"] for r in out], type=pa.binary()),
            pa.array(np.array([r["payload_bytes"] for r in out], np.int64)),
            pa.array(np.array([r["mvt_bytes"] for r in out], np.int64)),
        ],
        names=["z", "x", "y", "num_features", "payload",
               "payload_bytes", "mvt_bytes"],
    )


def _encode_tiles_in(
    arrs: dict, end: int, with_mvt: bool, out: list, cap: int | None = None,
    wire_format: str = "gena",
) -> None:
    """Encode every tile in arrs[:end] (tile boundaries from sorted keys).

    ``cap`` truncates each tile to its first ``cap`` rows (rows are
    pre-sorted by the deterministic sample key)."""
    zc, xc, yc = arrs["z"][:end], arrs["x"][:end], arrs["y"][:end]
    change = np.empty(end, dtype=bool)
    change[0] = True
    np.logical_or(
        np.diff(zc) != 0,
        np.logical_or(np.diff(xc) != 0, np.diff(yc) != 0),
        out=change[1:],
    )
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], end)
    for s, e in zip(starts.tolist(), ends.tolist()):
        if cap is not None:
            e = min(e, s + cap)
        out.append(
            _encode_tile_rows(
                int(zc[s]), int(xc[s]), int(yc[s]),
                arrs["ids"][s:e], arrs["local_x"][s:e], arrs["local_y"][s:e],
                arrs["caption"][s:e], arrs["fmt"][s:e],
                arrs["w"][s:e], arrs["h"][s:e], arrs["phash"][s:e],
                with_mvt, wire_format,
            )
        )


def _make_encode_stream(
    with_mvt_baseline: bool, max_features: int = 1 << 62, wire_format: str = "gena"
):
    """Streaming partition encoder with an inline per-tile cap.

    Input batches arrive sorted by (z, x, y, sample_key); complete tiles
    are encoded per batch and the (possibly batch-spanning) trailing tile
    is carried over, truncated to ``max_features`` as it accumulates — so
    memory is O(batch + cap) even for planet-hot tiles. Protocol overhead
    is per Arrow batch, not per tile: the grouped-map (applyInPandas)
    path costs ~6 ms *per group* in the Arrow channel, which serialized
    the whole stage (measured 17-33 s for a trivial UDF over 23k groups).

    Because rows arrive sorted by the deterministic sample key, "first
    max_features rows" is exactly the same subset the former
    row_number()-window cap selected — without a second exchange.
    """

    def encode_stream(batches):
        carry: dict | None = None  # rows of the current (unfinished) tile
        cur_key: tuple | None = None
        saturated = False

        def key_at(arrs, i):
            return (int(arrs["z"][i]), int(arrs["x"][i]), int(arrs["y"][i]))

        for rb in batches:
            if rb.num_rows == 0:
                continue
            arrs = _extract_arrays_arrow(rb)
            n = arrs["z"].shape[0]
            out: list[dict] = []

            start = 0
            if cur_key is not None:
                # consume the contiguous prefix belonging to the open tile
                prefix = (
                    (arrs["z"] == cur_key[0])
                    & (arrs["x"] == cur_key[1])
                    & (arrs["y"] == cur_key[2])
                )
                start = int(prefix.cumprod().sum())
                if start > 0 and not saturated:
                    room = max_features - carry["z"].shape[0]
                    take = min(start, room)
                    if take > 0:
                        carry = _concat_arrays(
                            carry, {k: v[:take] for k, v in arrs.items()}
                        )
                    if carry["z"].shape[0] >= max_features:
                        saturated = True
                if start == n:
                    continue  # whole batch belonged to the open tile
                # the open tile is now complete -> encode it
                _encode_tiles_in(carry, carry["z"].shape[0], with_mvt_baseline, out,
                                 wire_format=wire_format)
                carry = None
                cur_key = None
                saturated = False

            rest = {k: v[start:] for k, v in arrs.items()} if start else arrs
            m = rest["z"].shape[0]
            last_key = key_at(rest, m - 1)
            last_mask = (
                (rest["z"] == last_key[0])
                & (rest["x"] == last_key[1])
                & (rest["y"] == last_key[2])
            )
            split = m - int(last_mask[::-1].cumprod().sum())
            if split > 0:
                _encode_tiles_in(
                    rest, split, with_mvt_baseline, out, cap=max_features,
                    wire_format=wire_format,
                )
            cur_key = last_key
            carry = {k: v[split : split + max_features] for k, v in rest.items()}
            saturated = carry["z"].shape[0] >= max_features
            if out:
                yield _payload_batch(out)
        if carry is not None and carry["z"].shape[0]:
            out = []
            _encode_tiles_in(carry, carry["z"].shape[0], with_mvt_baseline, out,
                             wire_format=wire_format)
            yield _payload_batch(out)

    return encode_stream


def _make_precap_stream(cap: int):
    """Narrow per-input-partition pre-cap BEFORE the encode exchange.

    Emits, per (z, x, y) tile, a small superset of the ``cap`` smallest
    ``_sk`` rows seen in this partition — so a planet-hot tile ships
    O(partitions x cap) rows across the exchange instead of all of its
    pre-cap rows (the round-3 verdict's one remaining unbounded-fan-in
    path). Exactness: the downstream inline cap selects "first ``cap``
    rows in (_sk, image_id) order"; any row dropped here has ``_sk``
    strictly greater than the cap-th smallest ``_sk`` value (with
    multiplicity) among rows seen so far in the partition, so at least
    ``cap`` rows precede it in the selection order and it can never be
    selected. Ties at the threshold are always kept (superset, never a
    subset), and the final selection downstream is unchanged.

    Cost discipline (CLAUDE.md numpy-per-small-item gotcha): the common
    uniform case — thousands of small tiles per batch — is handled by one
    vectorized lexsort + rank filter per batch plus a python-int dict
    count walk; per-tile numpy work happens ONLY for tiles that actually
    saturate the cap (the hot tiles, by construction few).
    """

    def precap(batches):
        import pyarrow as pa

        counts: dict[int, int] = {}       # tile -> rows kept so far
        tracked: dict[int, np.ndarray] = {}  # saturated tile -> cap smallest _sk
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            z, x, y, sk = (
                rb.column(c).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
                for c in ("z", "x", "y", "_sk")
            )
            tile = (z << 52) | (x << 26) | y
            order = np.lexsort((sk, tile))
            tile_s = tile[order]
            sk_s = sk[order]
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = np.diff(tile_s) != 0
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
            grp = np.cumsum(change) - 1
            rank = np.arange(n) - starts[grp]
            # batch-local superset filter: a row in the partition-wide
            # top-cap has < cap predecessors in its own batch; keep
            # boundary ties so equal-_sk rows never split a valid subset
            keep = rank < cap
            sizes = ends - starts
            big = sizes > cap
            if big.any():
                for gi in np.flatnonzero(big).tolist():
                    s, e = int(starts[gi]), int(ends[gi])
                    thr = sk_s[s + cap - 1]
                    keep[s:e] = sk_s[s:e] <= thr
            # cross-batch state: python-int walk for counts; numpy only
            # for tiles at/over the cap
            kept_sizes = np.minimum(sizes, cap)
            for t, km, gi in zip(
                tile_s[starts].tolist(), kept_sizes.tolist(),
                range(starts.shape[0]),
            ):
                st = tracked.get(t)
                if st is not None:
                    s, e = int(starts[gi]), int(ends[gi])
                    merged = np.sort(
                        np.concatenate([st, sk_s[s:e][keep[s:e]]])
                    )
                    if merged.shape[0] > cap:
                        thr = merged[cap - 1]
                        keep[s:e] &= sk_s[s:e] <= thr
                        tracked[t] = merged[:cap]
                    else:
                        tracked[t] = merged
                    continue
                c = counts.get(t, 0) + km
                counts[t] = c
                if c >= cap:
                    s, e = int(starts[gi]), int(ends[gi])
                    tracked[t] = np.sort(sk_s[s:e][keep[s:e]])[:cap]
            if keep.all():
                yield rb
            elif keep.any():
                out_mask = np.zeros(n, dtype=bool)
                out_mask[order] = keep
                yield rb.filter(pa.array(out_mask))

    return precap


def materialize_tiles(
    images: DataFrame,
    zooms: list[int],
    extent: int = DEFAULT_EXTENT,
    max_features_per_tile: int = 20_000,
    with_mvt_baseline: bool = True,
    wire_format: str = "gena",
) -> DataFrame:
    """records → per-tile COVT payloads (+ MVT-baseline sizes).

    ``wire_format``: "gena" (fixture-conformant self-describing format) or
    "genb" (current format, covt/genb.py; emitted self-describing so no
    TileJSON sidecar travels with the rows)."""
    if not zooms:  # full resume: nothing left to materialize
        return images.sparkSession.createDataFrame([], PAYLOAD_SCHEMA)
    cols = ["image_id", "caption", "fmt", "w", "h", "phash", "lon", "lat"]
    assigned = assign_tiles(images.select(*cols), zooms, extent)

    # One wide exchange, skew-mitigated and explicitly sized:
    # - hash partitioning: identical keys stay in one partition, so every
    #   tile is encoded whole; AQE skew-split cannot help a Python stage.
    #   Range partitioning would balance rows, but its sampling pass
    #   recomputes the whole upstream.
    # - the partition count trades per-task fixed cost against skew.
    #   Every Python task pays a fixed CPU cost before its first row
    #   (CLAUDE.md gotchas), so fewer tasks are cheaper; more tasks keep
    #   hot tiles from colliding in one partition. encode_assigned sizes
    #   by which path runs (see there).
    # - explicit partition count pins parallelism: the encode stage is
    #   Python-CPU-bound, not bytes-bound, so AQE's byte-based coalescing
    #   must not shrink it.
    # - the deterministic sample key in the sort order lets the streaming
    #   encoder apply the per-tile cap inline ("first K rows in sample
    #   order"), replacing the former row_number window — one exchange
    #   total, same selected subset.
    return encode_assigned(
        assigned,
        max_features_per_tile=max_features_per_tile,
        with_mvt_baseline=with_mvt_baseline,
        wire_format=wire_format,
    )


def encode_assigned(
    assigned: DataFrame,
    max_features_per_tile: int = 20_000,
    with_mvt_baseline: bool = True,
    wire_format: str = "gena",
    sample_key: F.Column | None = None,
    num_parts: int | None = None,
    pre_cap: bool = True,
) -> DataFrame:
    """Exchange + sorted-stream encode of already-assigned tile rows.

    ``sample_key`` is the deterministic per-row cap-selection key; the
    default salts it with the zoom so each level caps an independent
    sample. ``pipeline/pyramid.py`` passes a zoom-INDEPENDENT key, the
    property that makes parent tiles exactly derivable from capped child
    tiles (see its module docstring).

    ``pre_cap`` inserts a narrow map-side per-tile top-cap reduction
    BEFORE the exchange (:func:`_make_precap_stream`): exact because the
    inline cap's selection order (_sk, image_id) is a total order, so
    local-then-global top-k composes; bounds a hot tile's shuffle volume
    at O(input_partitions x cap) rows instead of its full pre-cap count.
    """
    sc = assigned.sparkSession.sparkContext
    capped = max_features_per_tile < (1 << 40)
    if num_parts is None:
        if capped and pre_cap:
            # The pre-cap has already cut each tile to at most
            # input_partitions x cap rows. At sf1 on local[4] (cap 20,000,
            # ~0.05 s per Python task) 2x and 8x the slots matched in wall
            # time (17.6 vs 17.4 s, median of 5) and encode task time
            # (28.3 vs 28.5 s); 2x keeps the slowest task nearer the
            # median (1.23x vs 1.73x). Not measured on more cores.
            num_parts = 2 * sc.defaultParallelism
        else:
            # Nothing bounds a hot tile before the exchange. Before the
            # pre-cap existed, 3x the slots measured 38.8k-row stragglers
            # vs a 3k median (27.9 s vs 5.9 s tasks). At sf1 on local[4]
            # 2x matched 8x within noise (wall 8.4 vs 8.1 s, encode task
            # time 24.2 vs 25.3 s), which does not show 2x safe on more
            # cores, so keep 8x.
            num_parts = max(sc.defaultParallelism * 8, 16)
    if not capped:
        # The cap can never bind (no real tile holds 2^40 features), so
        # the sample-key selection order is irrelevant to the output:
        # the encode kernel argsorts each tile by id before encoding,
        # making payload bytes a function of the row SET only. Skip the
        # _sk column entirely — one less xxhash64 over every row, 8
        # fewer bytes per shuffled row, one less sort key (guide §2.3).
        part = assigned.repartition(num_parts, "z", "x", "y").sortWithinPartitions(
            "z", "x", "y", "image_id"
        )
        return part.select(*_STREAM_COLS).mapInArrow(
            _make_encode_stream(with_mvt_baseline, max_features_per_tile, wire_format),
            schema=PAYLOAD_SCHEMA,
        )
    if sample_key is None:
        sample_key = F.xxhash64("image_id", F.col("z"))
    staged = assigned.withColumn("_sk", sample_key)
    if pre_cap:
        staged = staged.select(*_STREAM_COLS, "_sk")
        staged = staged.mapInArrow(
            _make_precap_stream(max_features_per_tile), schema=staged.schema
        )
    part = staged.repartition(num_parts, "z", "x", "y").sortWithinPartitions(
        "z", "x", "y", "_sk", "image_id"
    )
    return part.select(*_STREAM_COLS).mapInArrow(
        _make_encode_stream(with_mvt_baseline, max_features_per_tile, wire_format),
        schema=PAYLOAD_SCHEMA,
    )


DECODE_SCHEMA = (
    "z int, x int, y int, feature_id long, local_x int, local_y int, "
    "caption string, fmt string, w long, h long, phash long"
)


_STR_PROPS = ("caption", "fmt")
_INT_PROPS = ("w", "h", "phash")


def decode_tiles(
    payloads: DataFrame,
    wire_format: str = "gena",
    columns: "list[str] | None" = None,
) -> DataFrame:
    """Inverse: payload rows → exploded feature rows (verification join).

    ``columns`` projects the read: a subset of ``{"geometry", "caption",
    "fmt", "w", "h", "phash"}`` (``feature_id`` always decodes — it is
    the join key). For gen-B payloads the projection is pushed INTO the
    tile: unselected streams are cursor-jumped, never parsed
    (``covt/genb.py decode_tile_genb(columns=...)`` — 1.7-11x on the
    reference's golden tiles depending on selectivity). Gen-A decodes
    fully and projects after (its decoder has no skip path); the output
    schema is identical either way, so plans are format-portable."""
    sel = None if columns is None else set(columns)
    with_geom = sel is None or "geometry" in sel
    str_props = [c for c in _STR_PROPS if sel is None or c in sel]
    int_props = [c for c in _INT_PROPS if sel is None or c in sel]
    schema_parts = ["z int", "x int", "y int", "feature_id long"]
    if with_geom:
        schema_parts += ["local_x int", "local_y int"]
    schema_parts += [f"{c} string" for c in str_props]
    schema_parts += [f"{c} long" for c in int_props]
    schema = ", ".join(schema_parts)
    genb_cols = (
        None
        if sel is None
        else {"id", *str_props, *int_props} | ({"geometry"} if with_geom else set())
    )

    col_names = [p.split()[0] for p in schema_parts]

    def _decode(batches):
        # Arrow-native output (guide §4.1): string columns are built by a
        # C-level take over each tile's decoded DICTIONARY (the payload
        # already stores them dictionary-encoded) instead of 3M per-row
        # Python strings through the pandas conversion.
        import pyarrow as pa
        import pyarrow.compute as pac

        if wire_format == "genb":
            from cov_tiles_spark.covt.genb import decode_tile_genb

            def decode(payload):
                return decode_tile_genb(payload, columns=genb_cols)
        else:
            decode = decode_covt
        for rb in batches:
            if rb.num_rows == 0:
                continue
            zs = rb.column("z").to_numpy(zero_copy_only=False)
            xs = rb.column("x").to_numpy(zero_copy_only=False)
            ys = rb.column("y").to_numpy(zero_copy_only=False)
            payloads_col = rb.column("payload")
            per_col: dict[str, list] = {c: [] for c in col_names}
            for ti in range(rb.num_rows):
                layers = decode(payloads_col[ti].as_py())
                lay = layers["images"]
                n = lay.metadata.num_features
                per_col["z"].append(np.full(n, zs[ti], np.int32))
                per_col["x"].append(np.full(n, xs[ti], np.int32))
                per_col["y"].append(np.full(n, ys[ti], np.int32))
                per_col["feature_id"].append(lay.ids.astype(np.int64))
                if with_geom:
                    vb = lay.geometry.vertex_buffer
                    per_col["local_x"].append(vb[0::2].astype(np.int32))
                    per_col["local_y"].append(vb[1::2].astype(np.int32))
                for name in str_props:
                    pc = lay.properties[name]
                    per_col[name].append(
                        pac.take(
                            pa.array(list(pc.dictionary), type=pa.string()),
                            pa.array(pc.data.astype(np.int64)),
                        )
                    )
                for name in int_props:
                    per_col[name].append(
                        lay.properties[name].data.astype(np.int64)
                    )
            arrays = []
            for c in col_names:
                parts = per_col[c]
                if c in str_props:
                    arrays.append(pa.concat_arrays(parts))
                else:
                    arrays.append(pa.array(np.concatenate(parts)))
            yield pa.RecordBatch.from_arrays(arrays, names=col_names)

    return payloads.mapInArrow(_decode, schema=schema)


def decode_tiles_via_mvt(payloads: DataFrame) -> DataFrame:
    """Payload rows → exploded feature rows THROUGH the MVT export path:
    each COVT payload is reverse-transcoded (`transcode.covt_to_mvt`)
    and the resulting MVT decoded — a full-pipeline drive of the export
    direction whose output must equal :func:`decode_tiles` row-for-row
    (the driver gate checks it against the same oracle)."""
    fields = [f.split() for f in DECODE_SCHEMA.split(", ")]
    names = [name for name, _ in fields]
    types = [{"int": "int32", "long": "int64", "string": "string"}[t] for _, t in fields]
    props = (*_STR_PROPS, *_INT_PROPS)

    def _decode(batches):
        import pyarrow as pa

        from cov_tiles_spark.covt.mvt import decode_mvt
        from cov_tiles_spark.pipeline.transcode import covt_to_mvt

        for rb in batches:
            rows = []
            for z, x, y, payload in zip(
                *(rb.column(c).to_pylist() for c in ("z", "x", "y", "payload"))
            ):
                (lay,) = decode_mvt(covt_to_mvt(payload))
                rows += [
                    (z, x, y, f.id, *f.geometry[0][0], *(f.properties[p] for p in props))
                    for f in lay.features
                ]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(col, type=t) for col, t in zip(zip(*rows), types)],
                    names=names,
                )

    return payloads.mapInArrow(_decode, schema=DECODE_SCHEMA)
