"""Single-process COVT kernel timings on a workload's own tiles.

``tile_server_loop`` decodes stored tiles one at a time, the way a tile
server answers requests, and gives per-tile latency samples.
``kernel_costs`` times the encoder, the decoder and the MVT decoder on the
same tiles; the encoder is fed each tile rebuilt as ``LayerInput``.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from cov_tiles_spark.covt.decoder import decode_covt
from cov_tiles_spark.covt.encoder import LayerInput, PropertyInput, encode_tile
from cov_tiles_spark.covt.metadata import ColumnDataType
from cov_tiles_spark.covt.mvt import decode_mvt
from cov_tiles_spark.pipeline.transcode import covt_to_mvt

# property types as the tile pipeline encodes them
_PROP_TYPES = {
    "caption": ColumnDataType.STRING,
    "fmt": ColumnDataType.STRING,
    "w": ColumnDataType.UINT_64,
    "h": ColumnDataType.UINT_64,
    "phash": ColumnDataType.INT_64,
}


def _payload_list(payloads: pa.Table) -> list[bytes]:
    t = payloads.sort_by([("z", "ascending"), ("x", "ascending"), ("y", "ascending")])
    return t.column("payload").to_pylist()


def tile_server_loop(payloads: pa.Table, min_samples: int) -> np.ndarray:
    """Per-tile decode latency in microseconds, passing over every stored
    tile until at least ``min_samples`` were taken."""
    tiles = _payload_list(payloads)
    out = []
    clock = time.perf_counter
    while len(out) < min_samples:
        for t in tiles:
            t0 = clock()
            decode_covt(t)
            out.append(clock() - t0)
    return np.asarray(out) * 1e6


def _as_layer_input(layer) -> LayerInput:
    props = {}
    for name, pc in layer.properties.items():
        if pc.dictionary is not None:
            values = np.asarray(pc.dictionary, dtype=object)[pc.data]
        else:
            values = pc.data
        props[name] = PropertyInput(_PROP_TYPES[name], values)
    return LayerInput(name="images", geometry=layer.geometry, ids=layer.ids,
                      properties=props, extent=4096)


def kernel_costs(payloads: pa.Table, max_tiles: int = 400) -> dict[str, float]:
    """``covt.*`` figures over (up to ``max_tiles`` of) the tiles."""
    tiles = _payload_list(payloads)[:max_tiles]
    decoded = [decode_covt(t)["images"] for t in tiles]
    inputs = [_as_layer_input(lay) for lay in decoded]
    mvts = [covt_to_mvt(t) for t in tiles]
    features = sum(int(lay.metadata.num_features) for lay in decoded)
    clock = time.perf_counter

    t0 = clock()
    for li in inputs:
        encode_tile([li])
    enc = clock() - t0
    t0 = clock()
    for t in tiles:
        decode_covt(t)
    dec = clock() - t0
    t0 = clock()
    for m in mvts:
        decode_mvt(m)
    mvt_dec = clock() - t0
    return {
        "covt.encode_us_per_tile": enc / len(tiles) * 1e6,
        "covt.encode_us_per_feature": enc / features * 1e6,
        "covt.decode_us_per_feature": dec / features * 1e6,
        "covt.mvt_decode_us_per_feature": mvt_dec / features * 1e6,
        "covt.mvt_decode_ratio": mvt_dec / dec,
        "covt.payload_bytes_per_feature": sum(len(t) for t in tiles) / features,
    }


def compression(payloads: pa.Table) -> float | None:
    """Sum of COVT payload bytes over the sum of MVT-baseline bytes, or
    None when the tiles carry no MVT baseline."""
    mvt = float(payloads.column("mvt_bytes").to_numpy().sum())
    covt = float(payloads.column("payload_bytes").to_numpy().sum())
    return covt / mvt if mvt else None
