"""TAE (Topological Arc Encoding) evaluation over the reference's golden
tiles — what the reference's own listed-but-unimplemented next step
(`README.md:210-221`) would buy on polygon/linestring layers. Eval-only,
like the reference's codec sweep; every layer's decomposition is
reconstruction-verified inline. Appends a section to BENCH/BASELINE.md.
"""

from __future__ import annotations

import glob
import gzip
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _sections import replace_section as _replace_section  # noqa: E402

import numpy as np  # noqa: E402

from cov_tiles_spark.covt.metadata import GeometryType  # noqa: E402
from cov_tiles_spark.covt.tae import (  # noqa: E402
    _rings_of_layer,
    tae_roundtrip_ok,
    tae_size,
)
from cov_tiles_spark.pipeline.transcode import _layer_inputs  # noqa: E402

_HEADER = "## TAE (Topological Arc Encoding) evaluation — reference next-step, measured"

LINE_KINDS = {GeometryType.LINESTRING, GeometryType.MULTI_LINESTRING}
POLY_KINDS = {GeometryType.POLYGON, GeometryType.MULTI_POLYGON}


def main() -> None:
    from cov_tiles_spark.covt.genb import _encode_geometry_best, encode_tile_genb

    rows = []
    whatif = []  # per-zoom (mvt, genb, genb_with_tae_estimate)
    for p in sorted(glob.glob("/root/reference/parser/js/data/omt/*.mvt")):
        z = int(os.path.basename(p).split("_")[0])
        raw = open(p, "rb").read()
        if raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)
        inputs = _layer_inputs(raw)[0]
        tile_genb = len(
            encode_tile_genb(inputs, optimize_metadata=True,
                             geometry_encoding="best")[0]
        )
        tae_delta = 0
        for lay in inputs:
            kinds = set(np.asarray(lay.geometry.geometry_types).tolist())
            if kinds <= POLY_KINDS:
                closed = True
            elif kinds <= LINE_KINDS:
                closed = False
            else:
                continue
            rings = _rings_of_layer(lay.geometry, None)
            if not rings:
                continue
            cur = sum(
                len(d)
                for *_, d in _encode_geometry_best(lay.geometry, lay.extent)[1]
            )
            est = tae_size(rings, closed=closed)["tae_bytes"] + 2  # types
            if est < cur:
                tae_delta += cur - est
        whatif.append((z, len(raw), tile_genb, tile_genb - tae_delta))
        for lay in inputs:
            kinds = set(np.asarray(lay.geometry.geometry_types).tolist())
            if kinds <= POLY_KINDS:
                closed = True
            elif kinds <= LINE_KINDS:
                closed = False
            else:
                continue
            rings = _rings_of_layer(lay.geometry, None)
            if sum(len(r) for r in rings) < 200:
                continue
            ok = tae_roundtrip_ok(rings, closed=closed)
            s = tae_size(rings, closed=closed)
            rows.append((z, lay.name, closed, s, ok))

    lines = [
        _HEADER + "\n",
        "The reference lists TAE among its geometry-compression next "
        "steps (README.md:210-221) and ships it nowhere; covt/tae.py "
        "implements the TopoJSON-style arc model eval-only (like the "
        "reference's own bench-only codecs) with exact ring "
        "reconstruction verified per layer. Sizes use the reference's "
        "vertex coding (interleaved delta-zigzag varints, restart per "
        "chain) on both sides; TAE adds the arc-reference + arc-length "
        "streams. Negative saving = the reference/topology bookkeeping "
        "costs more than the shared vertices save — measured support "
        "for the reference's decision to defer TAE.\n",
        "| zoom | layer | kind | rings | arcs | shared verts | plain B | TAE B | saving |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for z, name, closed, s, ok in rows:
        assert ok, (z, name)
        save = (1 - s["tae_bytes"] / s["plain_bytes"]) * 100
        lines.append(
            f"| z{z} | {name} | {'poly' if closed else 'line'} | "
            f"{s['n_rings']} | {s['n_arcs']} | "
            f"{s['shared_vertex_frac'] * 100:.1f}% | {s['plain_bytes']} | "
            f"{s['tae_bytes']} | {save:+.1f}% |"
        )
    lines.append(
        "\nEvery row reconstruction-verified (arcs -> rings exact).\n\n"
        "What-if at tile level (ESTIMATE, eval-only — TAE is outside "
        "the gen-B ColumnType enum, so emitting it would fork the wire "
        "format; this bounds what adopting the reference's own roadmap "
        "item would buy):\n",
    )
    lines += [
        "| zoom | genb now | genb+TAE est | reduction now | reduction w/ TAE |",
        "|---|---|---|---|---|",
    ]
    for z, mvt, now, est in whatif:
        lines.append(
            f"| z{z} | {now} | {est} | {(1 - now / mvt) * 100:.1f}% | "
            f"{(1 - est / mvt) * 100:.1f}% |"
        )
    lines.append("")
    _replace_section("BENCH/BASELINE.md", _HEADER, "\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
