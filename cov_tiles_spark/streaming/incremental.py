"""Incremental tile materialization with Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9: no streaming operators),
so this module is *additive* capability: a continuously-arriving image
corpus (file stream of parquet drops) is folded into the tile lake
incrementally.

Design: ``readStream`` on the landing directory → per micro-batch
``foreachBatch`` runs the SAME batch pipeline (``materialize_tiles``) and
commits through IcebergLite with stage = the batch id, so the lake keeps
per-batch lineage and a crashed stream resumes from Spark's checkpoint
without double-writing (the manifest gate is idempotent per
(stage, partition)).

Tile payloads written by different micro-batches for the same (z, x, y)
are *partial tiles*; ``compact_tiles`` merges them (decode → concat
feature tables → re-encode) — the same merge an end-of-day compaction
job would run at scale, and the reason streaming writes stay append-only
(no read-modify-write races).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cov_tiles_spark.covt.decoder import GeometryColumn, decode_covt
from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput, encode_tile
from cov_tiles_spark.covt.metadata import ColumnDataType, GeometryType
from cov_tiles_spark.io.synth import SCHEMA as IMAGES_SCHEMA
from cov_tiles_spark.pipeline.lineage import IcebergLite
from cov_tiles_spark.pipeline.materialize import materialize_tiles


def start_incremental_materialize(
    spark: SparkSession,
    landing_dir: str,
    lake_root: str,
    checkpoint_dir: str,
    zooms: list[int],
    trigger_once: bool = False,
):
    """Stream parquet drops from ``landing_dir`` into per-batch tile
    payload snapshots under ``lake_root``. Returns the StreamingQuery."""
    lake = IcebergLite(spark, lake_root)
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(landing_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tiles = materialize_tiles(batch_df, zooms, with_mvt_baseline=False)
        lake.commit_partitions(
            "tiles_stream", f"batch_{batch_id}", tiles, "z"
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_tiles(payloads: DataFrame) -> DataFrame:
    """Merge partial per-batch payloads per (z, x, y) into one tile.

    Decode each partial 'images' layer, concatenate feature tables, and
    re-encode — grouped by tile; partials per tile are few (one per
    micro-batch), so groups stay small.
    """

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        z = int(pdf["z"].iloc[0]); x = int(pdf["x"].iloc[0]); y = int(pdf["y"].iloc[0])
        ids, lx, ly, caps, fmts, ws, hs, ph = [], [], [], [], [], [], [], []
        for payload in pdf["payload"]:
            lay = decode_covt(bytes(payload))["images"]
            vb = lay.geometry.vertex_buffer
            ids.append(lay.ids.astype(np.int64))
            lx.append(vb[0::2].astype(np.int64))
            ly.append(vb[1::2].astype(np.int64))
            caps.append(np.array(
                [lay.properties["caption"].dictionary[int(i)]
                 for i in lay.properties["caption"].data], object))
            fmts.append(np.array(
                [lay.properties["fmt"].dictionary[int(i)]
                 for i in lay.properties["fmt"].data], object))
            ws.append(lay.properties["w"].data.astype(np.int64))
            hs.append(lay.properties["h"].data.astype(np.int64))
            ph.append(lay.properties["phash"].data.astype(np.int64))
        ids = np.concatenate(ids)
        order = np.argsort(ids, kind="stable")
        n = ids.shape[0]
        vb = np.empty(2 * n, dtype=np.int32)
        vb[0::2] = np.concatenate(lx)[order]
        vb[1::2] = np.concatenate(ly)[order]
        geom = GeometryColumn(
            geometry_types=np.full(n, GeometryType.POINT, np.uint8),
            vertex_buffer=vb,
        )
        props = {
            "caption": PropertyInput(ColumnDataType.STRING, np.concatenate(caps)[order]),
            "fmt": PropertyInput(ColumnDataType.STRING, np.concatenate(fmts)[order]),
            "w": PropertyInput(ColumnDataType.UINT_64, np.concatenate(ws)[order]),
            "h": PropertyInput(ColumnDataType.UINT_64, np.concatenate(hs)[order]),
            "phash": PropertyInput(ColumnDataType.INT_64, np.concatenate(ph)[order]),
        }
        payload = encode_tile(
            [LayerInput(name="images", geometry=geom, ids=ids[order], properties=props)]
        )
        return pd.DataFrame(
            {"z": [z], "x": [x], "y": [y], "num_features": [n],
             "payload": [payload], "payload_bytes": [len(payload)],
             "mvt_bytes": [0]}
        )

    return payloads.groupBy("z", "x", "y").applyInPandas(
        merge,
        schema="z int, x int, y int, num_features long, payload binary, "
               "payload_bytes long, mvt_bytes long",
    )
