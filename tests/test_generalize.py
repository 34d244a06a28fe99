"""Douglas-Peucker simplification + Sutherland-Hodgman clip tests.

Kernel correctness vs an independent recursive/Fraction reference
written here (the committed gate twins in scripts/build_oracles.py are
a third implementation), plus Spark-level equivalence and the map-only
plan pin.
"""

from __future__ import annotations

import random
from fractions import Fraction

import pytest

from cov_tiles_spark.spatial.generalize import (
    clip_polyline,
    clip_ring,
    dp_keep_mask,
    ring_area2,
    simplify_polyline,
)


# ------------------------------------------------- recursive reference


def _ref_seg_dist2(px, py, ax, ay, bx, by) -> Fraction:
    dx, dy = bx - ax, by - ay
    l2 = dx * dx + dy * dy
    if l2 == 0:
        return Fraction((px - ax) ** 2 + (py - ay) ** 2)
    t = Fraction((px - ax) * dx + (py - ay) * dy, l2)
    if t <= 0:
        return Fraction((px - ax) ** 2 + (py - ay) ** 2)
    if t >= 1:
        return Fraction((px - bx) ** 2 + (py - by) ** 2)
    cx = ax + t * dx
    cy = ay + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def _ref_dp(xs, ys, tol):
    n = len(xs)
    if n <= 2:
        return list(range(n))

    keep = set()

    def rec(i, j):
        keep.add(i)
        keep.add(j)
        if j <= i + 1:
            return
        best, best_d = -1, Fraction(-1)
        for k in range(i + 1, j):
            d = _ref_seg_dist2(xs[k], ys[k], xs[i], ys[i], xs[j], ys[j])
            if d > best_d:
                best, best_d = k, d
        if best >= 0 and best_d > tol * tol:
            rec(i, best)
            rec(best, j)

    rec(0, n - 1)
    return sorted(keep)


class TestDouglasPeucker:
    def test_collinear_noise_below_tol_collapses(self):
        xs = list(range(0, 160, 8))
        ys = [100 + (i % 3 - 1) for i in range(20)]  # noise within 1
        sx, sy = simplify_polyline(xs, ys, 8)
        assert sx == [xs[0], xs[-1]]
        assert sy == [ys[0], ys[-1]]

    def test_spike_above_tol_kept(self):
        xs = list(range(0, 88, 8))
        ys = [100] * 11
        ys[5] = 300
        sx, sy = simplify_polyline(xs, ys, 8)
        assert (40, 300) in set(zip(sx, sy))
        # the spike's flat neighbors are themselves > tol from the split
        # chords (perp distance ~31 from the slope-5 chord), so DP keeps
        # them too — verify against the independent recursive reference
        keep = [i for i, m in enumerate(dp_keep_mask(xs, ys, 8)) if m]
        assert keep == _ref_dp(xs, ys, 8)

    def test_endpoint_distance_case(self):
        # hook: candidate projects beyond segment end -> endpoint distance
        xs = [0, 50, 10]
        ys = [0, 0, 1]
        # point (50,0) vs segment (0,0)-(10,1): dot >> L, dist to (10,1) = 40.01
        mask = dp_keep_mask(xs, ys, 20)
        assert mask == [True, True, True]

    def test_degenerate_closed_endpoints(self):
        # identical endpoints: seg_l2 == 0 path measures raw distance
        xs = [5, 9, 5]
        ys = [5, 5, 5]
        assert dp_keep_mask(xs, ys, 3) == [True, True, True]
        assert dp_keep_mask(xs, ys, 4) == [True, False, True]

    def test_tie_matches_reference_on_symmetric_input(self):
        # two symmetric equal-distance bumps; both sides use strict >
        # (first-max split), so the kept sets must agree exactly
        xs = [0, 10, 30, 40]
        ys = [0, 7, -7, 0]
        mask = dp_keep_mask(xs, ys, 6)
        assert [i for i, m in enumerate(mask) if m] == _ref_dp(xs, ys, 6)

    def test_short_lines_pass_through(self):
        assert dp_keep_mask([1], [2], 5) == [True]
        assert dp_keep_mask([1, 9], [2, 3], 5) == [True, True]

    @pytest.mark.parametrize("seed", range(8))
    def test_matches_recursive_fraction_reference(self, seed):
        rng = random.Random(seed)
        n = rng.randrange(3, 60)
        xs = [rng.randrange(0, 5000) for _ in range(n)]
        ys = [rng.randrange(0, 5000) for _ in range(n)]
        tol = rng.choice([1, 5, 50, 400])
        mask = dp_keep_mask(xs, ys, tol)
        got = [i for i, m in enumerate(mask) if m]
        assert got == _ref_dp(xs, ys, tol)


# --------------------------------------------------------------- clip


class TestClipRing:
    BOX = (0, 0, 4096, 4096)

    def test_fully_inside_unchanged(self):
        xs, ys = [10, 100, 50], [10, 20, 90]
        cx, cy = clip_ring(xs, ys, *self.BOX)
        assert (cx, cy) == (xs, ys)

    def test_fully_outside_empty(self):
        cx, cy = clip_ring([-50, -10, -30], [5, 5, 40], *self.BOX)
        assert (cx, cy) == ([], [])

    def test_corner_square_clips_to_rectangle(self):
        # square straddling the (0,0) corner
        cx, cy = clip_ring([-64, 64, 64, -64], [-32, -32, 32, 32], *self.BOX)
        assert sorted(zip(cx, cy)) == [(0, 0), (0, 32), (64, 0), (64, 32)]
        assert abs(ring_area2(cx, cy)) == 2 * 64 * 32

    def test_rounding_half_toward_plus_inf(self):
        # edge (-1,0)->(1,1) crosses x=0 at y=1/2 -> rounds to 1;
        # edge (-1,-1)->(1,0) crosses at y=-1/2 -> rounds to 0
        tri_x = [-1, 1, 1, -1]
        tri_y = [0, 1, 0, -1]
        cx, cy = clip_ring(tri_x, tri_y, 0, -10, 10, 10)
        pts = set(zip(cx, cy))
        assert (0, 1) in pts
        assert (0, 0) in pts

    def test_winding_preserved(self):
        ccw = clip_ring([-64, 64, 64, -64], [-32, -32, 32, 32], *self.BOX)
        cw = clip_ring([-64, 64, 64, -64], [32, 32, -32, -32], *self.BOX)
        assert ring_area2(*ccw) > 0
        assert ring_area2(*cw) < 0
        assert ring_area2(*ccw) == -ring_area2(*cw)

    def test_interpolated_vertices_stay_in_box(self):
        rng = random.Random(7)
        for _ in range(50):
            cxc = rng.randrange(-512, 4608)
            cyc = rng.randrange(-512, 4608)
            s = rng.randrange(16, 1100)
            offs = [(0, -s), (s // 2 + 3, -(s // 3)), (s, s // 5),
                    (-(s // 4), s), (-s, s // 2)]
            xs = [cxc + ox for ox, _ in offs]
            ys = [cyc + oy for _, oy in offs]
            cx, cy = clip_ring(xs, ys, *self.BOX)
            assert all(0 <= v <= 4096 for v in cx)
            assert all(0 <= v <= 4096 for v in cy)

    def test_wrap_duplicate_removed(self):
        # clipping can emit the same point at start and end
        cx, cy = clip_ring([2048, 5000, 5000, 2048], [0, 0, 100, 100], *self.BOX)
        assert len(cx) == len(set(zip(cx, cy)))


class TestClipPolyline:
    BOX = (0, 0, 256, 256)

    def test_fully_inside_one_part(self):
        xs, ys = [10, 100, 50], [10, 20, 90]
        assert clip_polyline(xs, ys, *self.BOX) == [(xs, ys)]

    def test_fully_outside_no_parts(self):
        assert clip_polyline([-50, -10, -30], [5, 5, 40], *self.BOX) == []

    def test_out_and_back_splits_into_two_parts(self):
        # enters, leaves through the right edge, re-enters
        xs = [10, 300, 10]
        ys = [100, 100, 120]
        parts = clip_polyline(xs, ys, *self.BOX)
        assert len(parts) == 2
        (ax, ay), (bx, by) = parts
        assert ax == [10, 256] and ay == [100, 100]
        assert bx[0] == 256 and bx[-1] == 10 and by[-1] == 120

    def test_joint_on_boundary_keeps_one_part(self):
        # the shared vertex sits exactly on the edge: both segments keep
        # it intact, so the chain does NOT break
        xs = [10, 256, 10]
        ys = [50, 100, 150]
        parts = clip_polyline(xs, ys, *self.BOX)
        assert len(parts) == 1
        assert parts[0] == ([10, 256, 10], [50, 100, 150])

    def test_corner_graze_degenerate_segment_dropped(self):
        # segment passes exactly through the (0,0) corner: clips to the
        # single point (0,0) -> dropped, no 1-vertex parts
        parts = clip_polyline([-10, 10], [10, -10], *self.BOX)
        assert parts == []

    def test_crossing_segment_rounding_matches_ring_rule(self):
        # (-1,0)->(1,1) crosses x=0 at y=1/2 -> rounds to 1 (half up)
        parts = clip_polyline([-1, 1], [0, 1], 0, -10, 10, 10)
        assert parts == [([0, 1], [1, 1])]

    def test_parts_stay_in_box_and_have_min_two_vertices(self):
        rng = random.Random(13)
        for _ in range(60):
            n = rng.randrange(2, 25)
            xs = [rng.randrange(-200, 456) for _ in range(n)]
            ys = [rng.randrange(-200, 456) for _ in range(n)]
            for px, py in clip_polyline(xs, ys, *self.BOX):
                assert len(px) >= 2
                assert all(0 <= v <= 256 for v in px)
                assert all(0 <= v <= 256 for v in py)

    def test_interior_vertices_preserved_verbatim(self):
        # vertices inside the box must survive untouched (no re-rounding)
        xs = [-50, 17, 101, 400]
        ys = [33, 41, 77, 90]
        parts = clip_polyline(xs, ys, *self.BOX)
        assert len(parts) == 1
        px, py = parts[0]
        assert (17, 41) in set(zip(px, py))
        assert (101, 77) in set(zip(px, py))


class TestSimplifyRing:
    def test_square_with_edge_noise_collapses_to_corners(self):
        from cov_tiles_spark.spatial.generalize import simplify_ring

        # square 0..100 with a 1-unit midpoint bump on each edge
        xs = [0, 50, 100, 100, 100, 50, 0, 0]
        ys = [0, 1, 0, 50, 100, 99, 100, 51]
        sx, sy = simplify_ring(xs, ys, 8)
        assert set(zip(sx, sy)) == {(0, 0), (100, 0), (100, 100), (0, 100)}

    def test_degenerate_all_identical_empty(self):
        from cov_tiles_spark.spatial.generalize import simplify_ring

        assert simplify_ring([5, 5, 5, 5], [7, 7, 7, 7], 1) == ([], [])

    def test_anchors_always_survive(self):
        from cov_tiles_spark.spatial.generalize import simplify_ring

        rng = random.Random(23)
        for _ in range(40):
            n = rng.randrange(4, 20)
            xs = [rng.randrange(0, 400) for _ in range(n)]
            ys = [rng.randrange(0, 400) for _ in range(n)]
            sx, sy = simplify_ring(xs, ys, 30)
            if not sx:
                continue
            d = [(xs[i] - xs[0]) ** 2 + (ys[i] - ys[0]) ** 2
                 for i in range(n)]
            k = d.index(max(d))
            assert (xs[0], ys[0]) in set(zip(sx, sy))
            assert (xs[k], ys[k]) in set(zip(sx, sy))

    def test_order_preserved(self):
        from cov_tiles_spark.spatial.generalize import simplify_ring

        rng = random.Random(9)
        xs = [rng.randrange(0, 1000) for _ in range(18)]
        ys = [rng.randrange(0, 1000) for _ in range(18)]
        sx, sy = simplify_ring(xs, ys, 10)
        src = list(zip(xs, ys))
        pos = [src.index(p) for p in zip(sx, sy)]
        assert pos == sorted(pos)


class TestMergeFragments:
    def test_forward_chain(self):
        from cov_tiles_spark.spatial.generalize import merge_fragments

        out = merge_fragments([([0, 1], [0, 0]), ([1, 2], [0, 1]),
                               ([2, 3], [1, 1])])
        assert out == [([0, 1, 2, 3], [0, 0, 1, 1], 3)]

    def test_reversed_fragment_attaches(self):
        from cov_tiles_spark.spatial.generalize import merge_fragments

        # second fragment runs 2->1: its END matches the live tail
        out = merge_fragments([([0, 1], [0, 0]), ([2, 1], [5, 0])])
        assert out == [([0, 1, 2], [0, 0, 5], 2)]

    def test_head_extension(self):
        from cov_tiles_spark.spatial.generalize import merge_fragments

        # fragment starts at the chain HEAD: prepended reversed
        out = merge_fragments([([5, 6], [0, 0]), ([5, 4], [0, 1])])
        assert out == [([4, 5, 6], [1, 0, 0], 2)]

    def test_disjoint_fragments_stay_separate(self):
        from cov_tiles_spark.spatial.generalize import merge_fragments

        out = merge_fragments([([0, 1], [0, 0]), ([10, 11], [0, 0])])
        assert len(out) == 2

    def test_junction_first_registration_wins(self):
        from cov_tiles_spark.spatial.generalize import merge_fragments

        # three fragments radiating from (0,0): the first two chain
        # through the junction, the third can't attach there anymore
        out = merge_fragments([([0, 1], [0, 0]), ([0, -1], [0, 0]),
                               ([0, 0], [0, 5])])
        assert len(out) == 2
        assert out[0] == ([-1, 0, 1], [0, 0, 0], 2)
        assert out[1] == ([0, 0], [0, 5], 1)

    def test_split_route_reassembles(self):
        from cov_tiles_spark.spatial.generalize import merge_fragments

        rng = random.Random(5)
        xs = list(range(0, 200, 10))
        ys = [rng.randrange(0, 50) for _ in xs]
        # cut into fragments sharing boundary vertices, shuffle
        frags, i = [], 0
        while i < len(xs) - 1:
            k = rng.randrange(2, 5)
            j = min(i + k, len(xs) - 1)
            frags.append((xs[i:j + 1], ys[i:j + 1]))
            i = j
        rng.shuffle(frags)
        out = merge_fragments(frags)
        # every chain's fragment/vertex totals conserve the input
        assert sum(c[2] for c in out) == len(frags)
        assert sum(len(c[0]) for c in out) == sum(
            len(f[0]) for f in frags) - sum(c[2] - 1 for c in out)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _coords = st.lists(
        st.tuples(st.integers(-600, 5000), st.integers(-600, 5000)),
        min_size=3, max_size=24,
    )

    class TestClipProperties:
        """Hypothesis invariants: every clip output is inside the box,
        and clipping is idempotent (the output is already inside, so a
        second pass crosses no plane and must be a no-op)."""

        BOX = (0, 0, 4096, 4096)

        @settings(max_examples=120, deadline=None)
        @given(_coords)
        def test_ring_contained_and_idempotent(self, pts):
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            cx, cy = clip_ring(xs, ys, *self.BOX)
            assert all(0 <= v <= 4096 for v in cx + cy)
            assert clip_ring(cx, cy, *self.BOX) == (cx, cy)

        @settings(max_examples=120, deadline=None)
        @given(_coords)
        def test_line_parts_contained_and_idempotent(self, pts):
            xs = [p[0] for p in pts]
            ys = [p[1] for p in pts]
            parts = clip_polyline(xs, ys, *self.BOX)
            for px, py in parts:
                assert all(0 <= v <= 4096 for v in px + py)
                assert clip_polyline(px, py, *self.BOX) == [(px, py)]

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


# ------------------------------------------------------------- Spark


@pytest.fixture(scope="module")
def lines_df(spark):
    rows = []
    rng = random.Random(3)
    for lid in range(12):
        n = rng.randrange(3, 40)
        xs = [i * 8 for i in range(n)]
        ys = [2048 + rng.randrange(-3, 4) + (300 if i % 9 == 4 else 0)
              for i in range(n)]
        rows.append((lid, xs, ys))
    return spark.createDataFrame(rows, "line_id long, xs array<long>, ys array<long>")


class TestSparkOperators:
    def test_simplify_lines_matches_kernel(self, spark, lines_df):
        from cov_tiles_spark.spatial.generalize import simplify_lines

        got = {
            r["line_id"]: (list(r["xs"]), list(r["ys"]), r["n_in"], r["n_out"])
            for r in simplify_lines(lines_df, 8).collect()
        }
        for r in lines_df.collect():
            sx, sy = simplify_polyline(r["xs"], r["ys"], 8)
            assert got[r["line_id"]] == (sx, sy, len(r["xs"]), len(sx))

    def test_simplify_plan_is_map_only(self, spark, lines_df):
        from cov_tiles_spark.spatial.generalize import simplify_lines

        plan = simplify_lines(lines_df, 8)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan

    def test_clip_lines_matches_kernel(self, spark):
        from cov_tiles_spark.spatial.generalize import clip_lines

        rows = []
        rng = random.Random(29)
        for lid in range(40):
            n = rng.randrange(2, 20)
            rows.append((lid,
                         [rng.randrange(-200, 456) for _ in range(n)],
                         [rng.randrange(-200, 456) for _ in range(n)]))
        df = spark.createDataFrame(rows, "line_id long, xs array<long>, ys array<long>")
        out = clip_lines(df, (0, 0, 256, 256)).collect()
        got: dict = {}
        for r in out:
            got.setdefault(r["line_id"], []).append(
                (r["part"], list(r["xs"]), list(r["ys"]), r["n_in"], r["n_pts"])
            )
        for lid, xs, ys in rows:
            parts = clip_polyline(xs, ys, 0, 0, 256, 256)
            want = [(p, px, py, len(xs), len(px))
                    for p, (px, py) in enumerate(parts)]
            assert sorted(got.get(lid, [])) == want

    def test_merge_lines_matches_kernel_any_partitioning(self, spark):
        from cov_tiles_spark.spatial.generalize import (
            merge_fragments,
            merge_lines,
        )

        rng = random.Random(31)
        rows = []
        for g in range(5):
            base_y = g * 1000
            xs = list(range(0, 300, 10))
            ys = [base_y + rng.randrange(0, 60) for _ in xs]
            i = fid = 0
            while i < len(xs) - 1:
                j = min(i + rng.randrange(2, 5), len(xs) - 1)
                rows.append((g, 0, fid, xs[i:j + 1], ys[i:j + 1]))
                i, fid = j, fid + 1
        # unique processing order (ties in ord would be nondeterministic)
        perm = list(range(len(rows)))
        rng.shuffle(perm)
        rows = [(g, perm[k], fid, xs, ys)
                for k, (g, _, fid, xs, ys) in enumerate(rows)]
        schema = ("g long, ord long, fid long, "
                  "xs array<long>, ys array<long>")

        def expected():
            by_g: dict = {}
            for g, o, fid, xs, ys in sorted(rows, key=lambda r: (r[0], r[1])):
                by_g.setdefault(g, []).append((xs, ys))
            want = {}
            for g, frags in by_g.items():
                want[g] = merge_fragments(frags)
            return want

        want = expected()
        for nparts in (1, 7):
            df = spark.createDataFrame(rows, schema).repartition(nparts)
            got: dict = {}
            for r in merge_lines(df, ["g"], "ord").collect():
                got.setdefault(r["g"], []).append(
                    (r["chain"], list(r["xs"]), list(r["ys"]),
                     r["n_frags"], r["n_pts"])
                )
            for g, chains in want.items():
                exp = [(i, cx, cy, nf, len(cx))
                       for i, (cx, cy, nf) in enumerate(chains)]
                assert sorted(got[g]) == exp, (nparts, g)

    def test_merge_lines_single_exchange(self, spark):
        from cov_tiles_spark.spatial.generalize import merge_lines

        df = spark.createDataFrame(
            [(0, 1, [0, 1], [0, 0])], "g long, ord long, xs array<long>, ys array<long>"
        )
        plan = (merge_lines(df, ["g"], "ord")
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") == 1

    def test_generalization_chain_composes_one_exchange(self, spark):
        # the production per-zoom shape: merge fragments -> simplify ->
        # clip, all in ONE plan with exactly the merge's single exchange
        from cov_tiles_spark.spatial.generalize import (
            clip_lines,
            merge_lines,
            simplify_lines,
        )

        rng = random.Random(17)
        rows = []
        ordv = 0
        for g in range(4):
            xs = list(range(-40, 400, 20))
            ys = [g * 300 + rng.randrange(0, 40) for _ in xs]
            i = 0
            while i < len(xs) - 1:
                j = min(i + rng.randrange(2, 4), len(xs) - 1)
                rows.append((g, ordv, xs[i:j + 1], ys[i:j + 1]))
                i, ordv = j, ordv + 1
        df = spark.createDataFrame(
            rows, "g long, ord long, xs array<long>, ys array<long>"
        )
        merged = merge_lines(df, ["g"], "ord")
        slim = simplify_lines(merged.drop("n_frags", "n_pts"), 8)
        parts = clip_lines(slim.drop("n_in", "n_out"), (0, 0, 256, 256))
        plan = parts._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        out = parts.collect()
        assert out, "chain produced no parts"
        for r in out:
            assert r["n_pts"] >= 2
            assert all(0 <= v <= 256 for v in list(r["xs"]) + list(r["ys"]))

    def test_clip_lines_plan_is_map_only(self, spark, lines_df):
        from cov_tiles_spark.spatial.generalize import clip_lines

        plan = (clip_lines(lines_df, (0, 0, 256, 256))
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan

    def test_ring_area2_col_matches_kernel(self, spark):
        from cov_tiles_spark.spatial.generalize import bbox_cols, ring_area2_col

        rows = []
        rng = random.Random(41)
        for rid in range(30):
            n = rng.randrange(1, 12)
            rows.append((rid,
                         [rng.randrange(-500, 500) for _ in range(n)],
                         [rng.randrange(-500, 500) for _ in range(n)]))
        df = spark.createDataFrame(rows, "rid long, xs array<long>, ys array<long>")
        w, h = bbox_cols("xs", "ys")
        got = {r["rid"]: (r["a2"], r["w"], r["h"])
               for r in df.select("rid", ring_area2_col("xs", "ys").alias("a2"),
                                  w.alias("w"), h.alias("h")).collect()}
        for rid, xs, ys in rows:
            assert got[rid] == (ring_area2(xs, ys),
                                max(xs) - min(xs), max(ys) - min(ys))

    def test_ring_centroid_cols_exact(self, spark):
        from cov_tiles_spark.spatial.generalize import ring_centroid_cols

        # unit square centered at (5, 5): centroid numerators / (3*area2)
        # must give exactly (5, 5); plus a python cross-check on an
        # irregular ring
        rows = [(0, [0, 10, 10, 0], [0, 0, 10, 10]),
                (1, [0, 7, 9, 2, -3], [0, 1, 8, 12, 4])]
        df = spark.createDataFrame(rows, "rid long, xs array<long>, ys array<long>")
        cx, cy = ring_centroid_cols("xs", "ys")
        got = {r["rid"]: (r["cx"], r["cy"])
               for r in df.select("rid", cx.alias("cx"), cy.alias("cy")).collect()}
        a2_sq = ring_area2([0, 10, 10, 0], [0, 0, 10, 10])
        assert got[0] == (5 * 3 * a2_sq, 5 * 3 * a2_sq)
        for rid, xs, ys in rows:
            n = len(xs)
            cxn = sum((xs[i] + xs[(i + 1) % n])
                      * (xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i])
                      for i in range(n))
            cyn = sum((ys[i] + ys[(i + 1) % n])
                      * (xs[i] * ys[(i + 1) % n] - xs[(i + 1) % n] * ys[i])
                      for i in range(n))
            assert got[rid] == (cxn, cyn)

    def test_clip_rings_matches_kernel(self, spark):
        from cov_tiles_spark.spatial.generalize import clip_rings

        rows = []
        rng = random.Random(11)
        for pid in range(40):
            cxc = rng.randrange(-512, 4608)
            cyc = rng.randrange(-512, 4608)
            s = rng.randrange(16, 1100)
            offs = [(0, -s), (s // 2 + 3, -(s // 3)), (s, s // 5),
                    (-(s // 4), s), (-s, s // 2)]
            rows.append((pid, [cxc + ox for ox, _ in offs],
                         [cyc + oy for _, oy in offs]))
        df = spark.createDataFrame(rows, "poly_id long, xs array<long>, ys array<long>")
        got = {
            r["poly_id"]: (list(r["xs"]), list(r["ys"]), r["n_out"], r["area2"])
            for r in clip_rings(df, (0, 0, 4096, 4096)).collect()
        }
        for pid, xs, ys in rows:
            cx, cy = clip_ring(xs, ys, 0, 0, 4096, 4096)
            assert got[pid] == (cx, cy, len(cx), ring_area2(cx, cy))
