"""Geometry generalization for tile pipelines: line-fragment merging,
Douglas-Peucker simplification, Sutherland-Hodgman ring/line clipping,
and JVM-expression feature metrics for drop-smallest culling.

Every production tiling pipeline generalizes geometry per zoom before
encoding (the reference's tiles arrive pre-generalized from its
OpenMapTiles source — measured in BENCH/BASELINE.md; these operators
supply that upstream step so a Spark user can start from raw geometry).
The per-zoom chain is merge -> simplify -> clip -> cull:

- `merge_lines` — greedy endpoint chaining of road fragments: ONE
  group-key exchange + sorted-stream `mapInPandas` (deterministic under
  any partitioning via the sorted (group, order) processing order).
- `simplify_lines` / `simplify_rings` / `clip_rings` / `clip_lines` —
  MAP-ONLY: one per-row kernel each under `rows.map_rows`, no shuffle,
  embarrassingly parallel per feature; at 100 TB they scale linearly
  with executors and add zero exchanges to the plan (plan pins in
  `tests/test_generalize.py`).
- `ring_area2_col` / `bbox_cols` / `ring_centroid_cols` — pure JVM
  `F.aggregate` expressions (whole-stage codegen, no Python worker): a
  tippecanoe-style drop-smallest filter on them is a free scan-time
  predicate.

`tests/test_generalize.py::test_generalization_chain_composes_one_exchange`
pins the whole chain to a single exchange. The chain runs on Spark rows
of vertex arrays; the MVT→COVT transcode (`pipeline/transcode.py`) does
not generalize, it encodes the geometry its source tiles carry.

Exactness contract (what makes these gate-able cross-engine):

- Douglas-Peucker runs entirely in integer arithmetic. The
  point-to-segment squared distance is compared as integers: with
  segment (a,b), L = |b-a|^2, the perpendicular case compares
  cross^2 > tol^2 * L (cross = (b-a) x (p-a)); the endpoint cases
  compare d^2 * L > tol^2 * L. Within one (i,j) span all candidates
  share L, so the max is selected on the scaled integer measure
  directly. Ties: the FIRST (lowest-index) farthest point splits.
  Python ints — no overflow for any input.
- Sutherland-Hodgman clips against the four half-planes in the fixed
  order left (x>=x0), right (x<=x1), bottom (y>=y0), top (y<=y1).
  Intersection coordinates are rational; they are rounded to the
  nearest integer with ties toward +infinity (round-half-up), computed
  in exact integer arithmetic — see `_rdiv`. Because an interpolated
  coordinate always lies between two in-range endpoints, rounding can
  never push a vertex outside the clip box. Consecutive duplicate
  vertices (including the wrap-around pair) are dropped after the last
  pass; rings with fewer than 3 surviving vertices clip to empty.

Independent twins implementing the same spec from scratch live in
`scripts/build_oracles.py` (recursive DP; Fraction-based rounding) —
the driver gates `q_simplify_lines` / `q_clip_polygons` hash Spark
output against them.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from cov_tiles_spark.rows import map_rows

__all__ = [
    "dp_keep_mask",
    "simplify_polyline",
    "simplify_ring",
    "simplify_rings",
    "clip_ring",
    "clip_polyline",
    "simplify_lines",
    "clip_rings",
    "clip_lines",
    "ring_area2_col",
    "bbox_cols",
    "merge_fragments",
    "merge_lines",
]


# --------------------------------------------------------------- kernels


def dp_keep_mask(xs: Sequence[int], ys: Sequence[int], tol: int) -> list[bool]:
    """Douglas-Peucker keep mask over an open polyline, integer-exact.

    Segment distance (not infinite-line): a candidate beyond either
    endpoint measures distance to that endpoint. All comparisons are
    exact integer products (see module docstring); `tol` is in the same
    units as the coordinates.
    """
    n = len(xs)
    if n <= 2:
        return [True] * n
    xs = [int(v) for v in xs]
    ys = [int(v) for v in ys]
    tol2 = int(tol) * int(tol)
    keep = [False] * n
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        ax, ay = xs[i], ys[i]
        bx, by = xs[j], ys[j]
        dx, dy = bx - ax, by - ay
        seg_l2 = dx * dx + dy * dy
        best_k = -1
        best_num = 0  # squared distance scaled by seg_l2 (or raw if degenerate)
        for k in range(i + 1, j):
            px, py = xs[k] - ax, ys[k] - ay
            if seg_l2 == 0:
                num = px * px + py * py
            else:
                dot = px * dx + py * dy
                if dot <= 0:
                    num = (px * px + py * py) * seg_l2
                elif dot >= seg_l2:
                    ex, ey = xs[k] - bx, ys[k] - by
                    num = (ex * ex + ey * ey) * seg_l2
                else:
                    cross = dx * py - dy * px
                    num = cross * cross
            if num > best_num:
                best_num = num
                best_k = k
        thr = tol2 * (seg_l2 if seg_l2 else 1)
        if best_k >= 0 and best_num > thr:
            keep[best_k] = True
            stack.append((i, best_k))
            stack.append((best_k, j))
    return keep


def simplify_polyline(
    xs: Sequence[int], ys: Sequence[int], tol: int
) -> tuple[list[int], list[int]]:
    """Apply `dp_keep_mask`, returning the surviving vertex arrays."""
    mask = dp_keep_mask(xs, ys, tol)
    return (
        [int(x) for x, m in zip(xs, mask) if m],
        [int(y) for y, m in zip(ys, mask) if m],
    )


def simplify_ring(
    xs: Sequence[int], ys: Sequence[int], tol: int
) -> tuple[list[int], list[int]]:
    """Douglas-Peucker over an implicit-closed RING, integer-exact.

    DP needs anchors; a ring has none, so the spec fixes two
    deterministically: vertex 0, and the FIRST vertex at maximum squared
    distance from vertex 0. The ring is then split into the open path
    0..k and the wrap-around path k..n-1..0, each simplified with
    `dp_keep_mask`, and the kept sets united in original vertex order.
    Rings that collapse below 3 kept vertices (or whose vertices are all
    identical) simplify to empty — the caller drops them, the same
    convention as `clip_ring`. NOTE the shared-boundary topology caveat:
    adjacent polygons simplified independently can open slivers; this
    operator is for isolated rings (building footprints, water bodies),
    not coverage tilings.
    """
    n = len(xs)
    if n < 3:
        return [], []
    xs = [int(v) for v in xs]
    ys = [int(v) for v in ys]
    d = [(xs[i] - xs[0]) ** 2 + (ys[i] - ys[0]) ** 2 for i in range(n)]
    k = d.index(max(d))
    if d[k] == 0:
        return [], []
    m1 = dp_keep_mask(xs[: k + 1], ys[: k + 1], tol)
    m2 = dp_keep_mask(xs[k:] + [xs[0]], ys[k:] + [ys[0]], tol)
    keep = {i for i, f in enumerate(m1) if f}
    keep |= {(k + i) % n for i, f in enumerate(m2) if f}
    idx = sorted(keep)
    if len(idx) < 3:
        return [], []
    return [xs[i] for i in idx], [ys[i] for i in idx]


def _rdiv(num: int, den: int) -> int:
    """Exact num/den rounded to the nearest integer, ties toward +inf."""
    if den < 0:
        num, den = -num, -den
    q, r = divmod(num, den)
    return q + (1 if 2 * r >= den else 0)


def clip_ring(
    xs: Sequence[int],
    ys: Sequence[int],
    x0: int,
    y0: int,
    x1: int,
    y1: int,
) -> tuple[list[int], list[int]]:
    """Sutherland-Hodgman clip of one ring to [x0,x1] x [y0,y1].

    The ring is implicit-closed (no repeated first vertex). Winding is
    preserved. Returns ([], []) when the ring clips away entirely.
    """
    pts = [(int(x), int(y)) for x, y in zip(xs, ys)]
    # (axis, bound, sign): inside iff sign * coord >= sign * bound
    planes = ((0, x0, 1), (0, x1, -1), (1, y0, 1), (1, y1, -1))
    for axis, bound, sign in planes:
        if not pts:
            break
        out: list[tuple[int, int]] = []
        prev = pts[-1]
        prev_in = sign * prev[axis] >= sign * bound
        for cur in pts:
            cur_in = sign * cur[axis] >= sign * bound
            if cur_in != prev_in:
                # edge crosses the plane: interpolate the other axis
                num = (
                    prev[1 - axis] * (cur[axis] - bound)
                    - cur[1 - axis] * (prev[axis] - bound)
                )
                den = cur[axis] - prev[axis]
                ov = _rdiv(num, den)
                out.append((bound, ov) if axis == 0 else (ov, bound))
            if cur_in:
                out.append(cur)
            prev, prev_in = cur, cur_in
        pts = out
    # drop consecutive duplicates incl. the wrap pair
    dedup: list[tuple[int, int]] = []
    for p in pts:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) >= 2 and dedup[0] == dedup[-1]:
        dedup.pop()
    if len(dedup) < 3:
        return [], []
    return [p[0] for p in dedup], [p[1] for p in dedup]


def _clip_segment(
    ax: int, ay: int, bx: int, by: int, x0: int, y0: int, x1: int, y1: int
):
    """Clip one segment to the box via the same successive half-plane
    order and round-half-up interpolation as `clip_ring`. Returns
    (ax, ay, bx, by) or None when the segment is entirely outside."""
    a, b = (ax, ay), (bx, by)
    for axis, bound, sign in ((0, x0, 1), (0, x1, -1), (1, y0, 1), (1, y1, -1)):
        a_in = sign * a[axis] >= sign * bound
        b_in = sign * b[axis] >= sign * bound
        if not a_in and not b_in:
            return None
        if a_in and b_in:
            continue
        num = a[1 - axis] * (b[axis] - bound) - b[1 - axis] * (a[axis] - bound)
        den = b[axis] - a[axis]
        ov = _rdiv(num, den)
        p = (bound, ov) if axis == 0 else (ov, bound)
        if a_in:
            b = p
        else:
            a = p
    return a[0], a[1], b[0], b[1]


def clip_polyline(
    xs: Sequence[int],
    ys: Sequence[int],
    x0: int,
    y0: int,
    x1: int,
    y1: int,
) -> list[tuple[list[int], list[int]]]:
    """Clip an open polyline to [x0,x1] x [y0,y1], returning PARTS.

    Each segment is clipped independently (`_clip_segment`); consecutive
    surviving segments whose joint vertex survives intact chain into one
    part, otherwise a new part starts. Segments that round to a single
    point are dropped (they contribute no length and would create
    degenerate parts); parts always have >= 2 vertices.
    """
    xs = [int(v) for v in xs]
    ys = [int(v) for v in ys]
    parts: list[tuple[list[int], list[int]]] = []
    cur_x: list[int] = []
    cur_y: list[int] = []

    def flush() -> None:
        nonlocal cur_x, cur_y
        if len(cur_x) >= 2:
            parts.append((cur_x, cur_y))
        cur_x, cur_y = [], []

    for i in range(len(xs) - 1):
        seg = _clip_segment(xs[i], ys[i], xs[i + 1], ys[i + 1], x0, y0, x1, y1)
        if seg is None:
            flush()
            continue
        ax, ay, bx, by = seg
        if (ax, ay) == (bx, by):
            flush()
            continue
        if cur_x and (cur_x[-1], cur_y[-1]) == (ax, ay):
            cur_x.append(bx)
            cur_y.append(by)
        else:
            flush()
            cur_x = [ax, bx]
            cur_y = [ay, by]
    flush()
    return parts


def ring_area2(xs: Sequence[int], ys: Sequence[int]) -> int:
    """Twice the signed shoelace area of an implicit-closed ring."""
    n = len(xs)
    if n < 3:
        return 0
    acc = 0
    for i in range(n):
        j = (i + 1) % n
        acc += int(xs[i]) * int(ys[j]) - int(xs[j]) * int(ys[i])
    return acc


def ring_area2_col(xs_col: str, ys_col: str):
    """Twice the signed shoelace area of an implicit-closed ring column,
    as a pure JVM expression (F.aggregate over the vertex arrays — no
    Python worker anywhere). Column twin of `ring_area2`; rings with
    fewer than 3 vertices evaluate to 0.
    """
    xs, ys = F.col(xs_col), F.col(ys_col)
    n = F.size(xs_col)
    acc = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0).cast("long"),
        lambda a, i: a
        + F.element_at(xs, i) * F.element_at(ys, F.pmod(i, n) + 1)
        - F.element_at(xs, F.pmod(i, n) + 1) * F.element_at(ys, i),
    )
    # F.sequence(1, n) descends for n == 0 (see CLAUDE.md) — guard n < 3
    return F.when(n < 3, F.lit(0).cast("long")).otherwise(acc)


def ring_centroid_cols(xs_col: str, ys_col: str):
    """Integer-exact polygon-centroid numerators (label anchor points).

    The centroid of an implicit-closed ring is
    ``(cx_num / (3*area2), cy_num / (3*area2))`` with
    ``cx_num = sum (x_i + x_j) * (x_i*y_j - x_j*y_i)`` over wrap-around
    vertex pairs (j = i+1 mod n) — the numerators and denominator are
    exact integers, so cross-engine comparison has zero float drift;
    callers divide only at render time. Pure JVM `F.aggregate`, same
    zero-Python plan as `ring_area2_col`. Returns (cx_num, cy_num).
    """
    xs, ys = F.col(xs_col), F.col(ys_col)
    n = F.size(xs_col)

    def make(sel):
        return F.when(n < 3, F.lit(0).cast("long")).otherwise(
            F.aggregate(
                F.sequence(F.lit(1), n),
                F.lit(0).cast("long"),
                lambda a, i: a
                + sel(i)
                * (
                    F.element_at(xs, i) * F.element_at(ys, F.pmod(i, n) + 1)
                    - F.element_at(xs, F.pmod(i, n) + 1) * F.element_at(ys, i)
                ),
            )
        )

    cx = make(lambda i: F.element_at(xs, i) + F.element_at(xs, F.pmod(i, n) + 1))
    cy = make(lambda i: F.element_at(ys, i) + F.element_at(ys, F.pmod(i, n) + 1))
    return cx, cy


def bbox_cols(xs_col: str, ys_col: str):
    """(width, height) of a vertex-array feature's bounding box — JVM
    array_max/array_min, no Python."""
    w = F.array_max(xs_col) - F.array_min(xs_col)
    h = F.array_max(ys_col) - F.array_min(ys_col)
    return w.cast("long"), h.cast("long")


def merge_fragments(
    frags: "Sequence[tuple[Sequence[int], Sequence[int]]]",
) -> list[tuple[list[int], list[int], int]]:
    """Greedy endpoint chaining of line fragments (the tippecanoe-style
    pre-simplify merge: road networks arrive as many 2-4 vertex
    fragments; merging them first makes DP simplification effective
    across the whole chain).

    DETERMINISTIC SPEC (the gate twin implements the same rules):
    fragments are processed in input order. A live-ends map holds at
    most one (chain, side) per coordinate, FIRST registration wins. For
    each fragment: if its START matches a live end, attach there
    (fragment forward); else if its END matches, attach reversed; else
    it starts a new chain. Attaching consumes the matched end and
    registers the fragment's far endpoint for that side (skipped if the
    coordinate is already live — that side then simply stops growing).
    Chains never join with other chains. Output is chains in creation
    order as (xs, ys, n_fragments).
    """
    chains: list[dict] = []
    ends: dict[tuple[int, int], tuple[int, int]] = {}  # coord -> (ci, side)

    def register(coord, ci, side):
        if coord not in ends:
            ends[coord] = (ci, side)

    for xs, ys in frags:
        pts = [(int(x), int(y)) for x, y in zip(xs, ys)]
        s, e = pts[0], pts[-1]
        hit = ends.get(s)
        rev = False
        if hit is None:
            hit = ends.get(e)
            rev = hit is not None
        if hit is None:
            ci = len(chains)
            chains.append({"pts": pts, "frags": 1})
            register(s, ci, 0)
            register(e, ci, 1)
            continue
        ci, side = hit
        c = chains[ci]
        att = pts[::-1] if rev else pts  # att[0] is the matched joint
        del ends[att[0]]
        if side == 1:  # extend at tail
            c["pts"].extend(att[1:])
        else:  # extend at head: chain becomes far..joint + old pts
            c["pts"][:0] = att[:0:-1]
        register(att[-1], ci, side)
        c["frags"] += 1
    return [
        ([p[0] for p in c["pts"]], [p[1] for p in c["pts"]], c["frags"])
        for c in chains
    ]


def merge_lines(
    df: DataFrame,
    group_cols: "Sequence[str]",
    order_col: str,
) -> DataFrame:
    """Merge line fragments into chains per group (e.g. per tile+class).

    ONE exchange on the group key, then a sorted-stream `mapInPandas`
    with cross-batch carry — NOT per-group `applyInPandas` (the ~6 ms
    per group Arrow-channel cost serializes many-small-group stages; see
    CLAUDE.md). Fragments are processed in `(group, order_col)` order,
    which makes the greedy chaining deterministic under any input
    partitioning. Output: one row per chain with the group columns,
    `chain` (creation index), `xs`/`ys`, `n_frags`, `n_pts`.
    """
    gcols = list(group_cols)
    fields = [df.schema[c] for c in gcols]
    schema = StructType(
        fields
        + [
            StructField("chain", IntegerType(), False),
            StructField("xs", ArrayType(LongType()), True),
            StructField("ys", ArrayType(LongType()), True),
            StructField("n_frags", IntegerType(), False),
            StructField("n_pts", IntegerType(), False),
        ]
    )
    cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key = None
        buf: list[tuple] = []

        def emit(key, frags):
            rows = []
            for chain, (mx, my, nf) in enumerate(merge_fragments(frags)):
                rows.append((*key, chain, mx, my, nf, len(mx)))
            if not rows:
                return None
            out = pd.DataFrame(rows, columns=cols)
            for c in ("chain", "n_frags", "n_pts"):
                out[c] = out[c].astype("int32")
            return out

        for pdf in batches:
            outs = []
            for vals in zip(*(pdf[c] for c in gcols), pdf["xs"], pdf["ys"]):
                key = tuple(vals[:-2])
                if key != cur_key:
                    if cur_key is not None:
                        o = emit(cur_key, buf)
                        if o is not None:
                            outs.append(o)
                    cur_key, buf = key, []
                buf.append((list(vals[-2]), list(vals[-1])))
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if cur_key is not None:
            o = emit(cur_key, buf)
            if o is not None:
                yield o

    n_part = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    return (
        df.repartition(int(n_part), *gcols)
        .sortWithinPartitions(*gcols, order_col)
        .mapInPandas(run, schema)
    )


# ------------------------------------------------------- Spark operators

_XY = ("xs", "ys")
_XY_COUNTED = ("xs", "ys", "n_in", "n_out")


def _out_schema(df: DataFrame, *extra: StructField) -> StructType:
    fields = []
    for f in df.schema.fields:
        if f.name in _XY:
            fields.append(StructField(f.name, ArrayType(LongType()), True))
        else:
            fields.append(f)
    fields.append(StructField("n_in", IntegerType(), False))
    fields.append(StructField("n_out", IntegerType(), False))
    return StructType(fields + list(extra))


def simplify_lines(
    df: DataFrame,
    tolerance: int,
) -> DataFrame:
    """Simplify every polyline row with integer Douglas-Peucker.

    Map-only (no exchange): each Arrow batch is processed where it sits.
    `xs`/`ys` are replaced with the surviving vertices; `n_in`
    and `n_out` count vertices before/after. Rows with < 3 vertices pass
    through unchanged.
    """
    tol = int(tolerance)

    def kernel(xs, ys):
        sx, sy = simplify_polyline(list(xs), list(ys), tol)
        return [(sx, sy, len(xs), len(sx))]

    return map_rows(df, _out_schema(df), _XY, _XY_COUNTED, kernel)


def simplify_rings(
    df: DataFrame,
    tolerance: int,
) -> DataFrame:
    """Ring (polygon) analogue of `simplify_lines` — map-only, replaces
    the vertex arrays with `simplify_ring` output (empty when the ring
    collapses), adds `n_in`/`n_out`."""
    tol = int(tolerance)

    def kernel(xs, ys):
        sx, sy = simplify_ring(list(xs), list(ys), tol)
        return [(sx, sy, len(xs), len(sx))]

    return map_rows(df, _out_schema(df), _XY, _XY_COUNTED, kernel)


def clip_lines(
    df: DataFrame,
    bounds: tuple[int, int, int, int],
) -> DataFrame:
    """Clip every polyline row to `bounds`, exploding into PARTS.

    Map-only (the explode happens inside the Arrow batch, no shuffle).
    Output: one row per surviving part, with the non-geometry columns
    carried through plus `part` (0-based index within the source row),
    `n_in` (source vertex count), and `n_pts` (part vertex count).
    Rows that clip away entirely emit no output rows.
    """
    x0, y0, x1, y1 = (int(v) for v in bounds)
    schema = StructType(
        [*(f for f in df.schema.fields if f.name not in _XY),
         StructField("part", IntegerType(), False),
         StructField("xs", ArrayType(LongType()), True),
         StructField("ys", ArrayType(LongType()), True),
         StructField("n_in", IntegerType(), False),
         StructField("n_pts", IntegerType(), False)]
    )

    def kernel(xs, ys):
        xs, ys = list(xs), list(ys)
        return [
            (p, px, py, len(xs), len(px))
            for p, (px, py) in enumerate(clip_polyline(xs, ys, x0, y0, x1, y1))
        ]

    return map_rows(
        df, schema, _XY, ("part", "xs", "ys", "n_in", "n_pts"), kernel
    )


def clip_rings(
    df: DataFrame,
    bounds: tuple[int, int, int, int],
) -> DataFrame:
    """Clip every ring row to `bounds` = (x0, y0, x1, y1).

    Map-only. `xs`/`ys` are replaced with the clipped ring
    (empty arrays when fully outside); adds `n_in`, `n_out`, and
    `area2` (twice the signed shoelace area of the clipped ring).
    """
    x0, y0, x1, y1 = (int(v) for v in bounds)

    def kernel(xs, ys):
        cx, cy = clip_ring(list(xs), list(ys), x0, y0, x1, y1)
        return [(cx, cy, len(xs), len(cx), ring_area2(cx, cy))]

    schema = _out_schema(df, StructField("area2", LongType(), False))
    return map_rows(df, schema, _XY, (*_XY_COUNTED, "area2"), kernel)
