"""Topological Arc Encoding (TAE) — EVAL-ONLY (kernel K10 family).

The reference lists TAE among its geometry-compression next steps for
LineString/Polygon layers (`README.md:210-221`: "Topological Arc
Encoding (TAE)") but, like OptPFD/RLEv2 in its codec sweep, never ships
it ("Because of the additional complexity and relatively smaller
savings in size not all encodings are used in the current version",
`README.md:222`). This module measures what TAE would buy on real
tiles: a faithful TopoJSON-style decomposition with an exact
reconstruction check, never emitted into tiles.

Scheme (TopoJSON's public arc model):

1. every ring/line edge (undirected vertex pair) is counted across the
   layer; vertices where adjacency branches (more than two distinct
   neighbors, or incident to both shared and unshared edges) are
   *junctions*;
2. rings split into *arcs* at junctions; arcs are deduplicated under
   direction reversal;
3. the layer stores each unique arc's vertices ONCE (interleaved
   delta-zigzag varints, the reference's own vertex coding) plus, per
   ring, the arc references (zigzag varint ids, sign = direction);
4. reconstruction re-walks the references and must reproduce every ring
   vertex-for-vertex — asserted by :func:`tae_roundtrip_ok`.

Shared boundaries (two adjacent landcover polygons, a border drawn in
two rings) are therefore stored once instead of twice — exactly the
redundancy gzip finds in ICE vertex/offset streams but no in-enum
stream coding can express.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from cov_tiles_spark.covt.varint import encode_varints, zigzag_encode


def _rings_of_layer(geom, spans) -> list[np.ndarray]:
    """All closed rings / open linestrings as (n,2) vertex arrays, in
    stream order (uses the per-feature spans from covt/order.py)."""
    from cov_tiles_spark.covt.decoder import vertex_segment_lengths

    seg_lengths = vertex_segment_lengths(
        geom.geometry_types, geom.geometry_offsets, geom.part_offsets,
        geom.ring_offsets,
    )
    vb = np.asarray(geom.vertex_buffer, dtype=np.int64).reshape(-1, 2)
    out, pos = [], 0
    for n in seg_lengths.tolist():
        out.append(vb[pos : pos + n])
        pos += n
    return out


def decompose_arcs(rings: list[np.ndarray], closed: bool = True):
    """Split rings into deduplicated arcs.

    Returns ``(arcs, refs, rots)``: ``arcs`` a list of (n,2) vertex
    arrays, ``refs`` per ring a list of signed 1-based arc ids
    (negative = traverse reversed), ``rots`` the per-ring rotation
    applied before splitting (closed rings rotate so a junction leads;
    storing it makes reconstruction vertex-for-vertex EXACT, not just
    exact-up-to-rotation — required by the strict round-trip oracle).
    Pure python dict/counter walk — ring counts per tile are small
    (<= thousands); the per-edge work is O(total vertices).
    """
    # edge multiplicity + vertex adjacency
    edge_count: dict[tuple, int] = defaultdict(int)
    nbrs: dict[tuple, set] = defaultdict(set)
    ring_edges = []
    for r in rings:
        pts = [tuple(p) for p in r.tolist()]
        if closed and len(pts) > 1:
            cyc = pts + [pts[0]]
        else:
            cyc = pts
        edges = list(zip(cyc[:-1], cyc[1:]))
        ring_edges.append((pts, edges))
        for a, b in edges:
            edge_count[frozenset((a, b))] += 1
            nbrs[a].add(b)
            nbrs[b].add(a)

    def is_junction(v) -> bool:
        if len(nbrs[v]) != 2:
            return True
        counts = {edge_count[frozenset((v, w))] for w in nbrs[v]}
        return len(counts) > 1  # shared/unshared boundary change

    arcs: list[tuple] = []
    arc_ids: dict[tuple, int] = {}
    refs: list[list[int]] = []
    rots: list[int] = []

    for pts, edges in ring_edges:
        if not edges:
            # degenerate chain (0 or 1 vertex): no edges, but the
            # vertex itself must survive — emit it as a 1-vertex arc
            # (hypothesis-found: it previously reconstructed to empty)
            if pts:
                chain = tuple(pts)
                if chain not in arc_ids:
                    arc_ids[chain] = len(arcs)
                    arcs.append(chain)
                refs.append([arc_ids[chain] + 1])
            else:
                refs.append([])
            rots.append(0)
            continue
        # split positions: junction vertices (ring rotated so a junction
        # leads, when one exists, so no arc spans the seam)
        n = len(pts)
        rot = 0
        juncs = [i for i, v in enumerate(pts) if is_junction(v)]
        if closed and juncs:
            rot = juncs[0]
            pts = pts[rot:] + pts[:rot]
            juncs = sorted((i - rot) % n for i in juncs)
        rots.append(rot)
        cuts = sorted(set([0] + juncs))  # open chains always cut at 0
        # junction-free closed rings keep their open form (one arc of n
        # vertices, no synthetic closing vertex inflating the count) —
        # UNLESS that open form already starts and ends on the same
        # vertex (degenerate all-equal rings like [(0,0),(0,0)]): the
        # decoders' "first == last ⇒ drop synthetic closure" rule would
        # then eat a real vertex, so such rings store the closure too,
        # keeping the rule unambiguous (hypothesis-found)
        needs_closure = closed and (
            bool(juncs) or (len(pts) > 1 and pts[0] == pts[-1])
        )
        cyc = pts + [pts[0]] if needs_closure else pts
        ring_refs = []
        bounds = cuts + [len(cyc) - 1]
        for s, e in zip(bounds[:-1], bounds[1:]):
            if e <= s:
                continue
            chain = tuple(cyc[s : e + 1])
            rev = tuple(reversed(chain))
            if chain in arc_ids:
                ring_refs.append(arc_ids[chain] + 1)
            elif rev in arc_ids:
                ring_refs.append(-(arc_ids[rev] + 1))
            else:
                arc_ids[chain] = len(arcs)
                arcs.append(chain)
                ring_refs.append(len(arcs))
        refs.append(ring_refs)
    return [np.array(a, np.int64) for a in arcs], refs, rots


def reconstruct_rings(
    arcs, refs, rots=None, closed: bool = True
) -> list[np.ndarray]:
    """Inverse of :func:`decompose_arcs` — vertex-for-vertex exact when
    ``rots`` is given, exact up to ring rotation otherwise."""
    out = []
    for i, ring_refs in enumerate(refs):
        pts: list = []
        for rid in ring_refs:
            a = arcs[abs(rid) - 1]
            seq = a[::-1] if rid < 0 else a
            seq = seq.tolist()
            if pts and pts[-1] == seq[0]:
                seq = seq[1:]
            pts.extend(seq)
        if closed and len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]
        if rots is not None and rots[i]:
            r = rots[i]
            pts = pts[-r:] + pts[:-r]
        out.append(np.array(pts, np.int64).reshape(-1, 2))
    return out


def assemble_vertex_buffer(
    arc_store: np.ndarray,
    arc_lengths: np.ndarray,
    refs_flat: np.ndarray,
    refs_per_chain: np.ndarray,
    rots: np.ndarray,
    closed: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized decode-path inverse of :func:`decompose_arcs`.

    One gather over the arc store instead of a per-chain python walk
    (the scalar :func:`reconstruct_rings` measured +77% tile decode
    time on the z8 golden tile; rings are small, so per-ring numpy
    calls would hit the numpy-per-item overhead instead — this builds
    ALL chains' indices in one pass). Exploits two structural
    invariants of the decomposition: consecutive arcs in a chain always
    share their joint vertex (drop the first vertex of every non-first
    ref), and a closed chain's assembly ends on its start vertex iff it
    was junction-split (drop the trailing closure when first == last).

    Returns ``(vertices (N,2) int64, chain_lengths (C,))``.
    """
    from cov_tiles_spark.covt.decoder import _grouped_arange

    arc_lengths = np.asarray(arc_lengths, np.int64)
    refs_flat = np.asarray(refs_flat, np.int64)
    refs_per_chain = np.asarray(refs_per_chain, np.int64)
    rots = np.asarray(rots, np.int64)
    store = np.asarray(arc_store, np.int64).reshape(-1, 2)
    if len(refs_flat) == 0:
        return np.empty((0, 2), np.int64), np.zeros(len(refs_per_chain), np.int64)

    arc_start = np.cumsum(arc_lengths) - arc_lengths
    aid = np.abs(refs_flat) - 1
    L = arc_lengths[aid]
    # first ref of each chain keeps its joint vertex
    ref_pos_in_chain = _grouped_arange(refs_per_chain)
    skip = (ref_pos_in_chain > 0).astype(np.int64)
    contrib = L - skip
    t = _grouped_arange(contrib) + np.repeat(skip, contrib)
    fwd = np.repeat(arc_start[aid], contrib) + t
    rev = np.repeat(arc_start[aid] + L - 1, contrib) - t
    idx = np.where(np.repeat(refs_flat < 0, contrib), rev, fwd)
    assembled = store[idx]

    # per-chain assembled lengths
    ref_chain_bounds = np.cumsum(refs_per_chain)
    csum = np.concatenate([[0], np.cumsum(contrib)])
    n0 = csum[ref_chain_bounds] - csum[np.concatenate([[0], ref_chain_bounds[:-1]])]
    starts0 = np.cumsum(n0) - n0
    if closed:
        nonempty = n0 > 1
        last = starts0 + n0 - 1
        drop = np.zeros(len(n0), dtype=bool)
        ne = np.flatnonzero(nonempty)
        drop[ne] = (
            assembled[starts0[ne]] == assembled[last[ne]]
        ).all(axis=1)
        n = n0 - drop.astype(np.int64)
    else:
        n = n0
    # final gather with per-chain rotation undo:
    # out[j] = dec[(j + n - rot) % n]
    out_starts = np.repeat(starts0, n)
    j = _grouped_arange(n)
    nn = np.repeat(n, n)
    rr = np.repeat(np.where(n > 0, rots % np.maximum(n, 1), 0), n)
    out_idx = out_starts + (j + nn - rr) % nn
    return assembled[out_idx], n


def tae_roundtrip_ok(rings: list[np.ndarray], closed: bool = True) -> bool:
    """Vertex-for-vertex exact reconstruction (rotations stored)."""
    arcs, refs, rots = decompose_arcs(rings, closed=closed)
    back = reconstruct_rings(arcs, refs, rots, closed=closed)
    return len(back) == len(rings) and all(
        len(r) == len(b) and bool((r == b).all())
        for r, b in zip(rings, back)
    )


def tae_size(rings: list[np.ndarray], closed: bool = True) -> dict:
    """Estimated TAE bytes vs the plain per-ring delta coding.

    Both sides use the reference's own vertex coding (interleaved
    delta-zigzag varints restarting per chain); TAE adds the per-ring
    (rotation + signed arc references) stream and per-arc length
    varints.
    """
    def chain_bytes(chains) -> int:
        total = 0
        for c in chains:
            v = np.asarray(c, np.int64).reshape(-1)
            d = v.copy()
            d[2:] = v[2:] - v[:-2]  # interleaved x/y delta, restart per chain
            total += len(encode_varints(zigzag_encode(d)))
        return total

    arcs, refs, rots = decompose_arcs(rings, closed=closed)
    ref_stream = np.array(
        [v for ring, rot in zip(refs, rots) for v in ([rot] + ring)],
        np.int64,
    )
    ref_bytes = len(encode_varints(zigzag_encode(ref_stream))) + len(
        encode_varints(np.array([len(r) for r in refs], np.uint64))
    )
    arc_len_bytes = len(
        encode_varints(np.array([len(a) for a in arcs], np.uint64))
    )
    return {
        "plain_bytes": chain_bytes(rings),
        "tae_bytes": chain_bytes(arcs) + ref_bytes + arc_len_bytes,
        "n_rings": len(rings),
        "n_arcs": len(arcs),
        "shared_vertex_frac": 1.0
        - (sum(len(a) for a in arcs) / max(1, sum(len(r) for r in rings))),
    }
