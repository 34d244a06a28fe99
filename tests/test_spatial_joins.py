"""PIP and kNN correctness vs brute-force numpy oracles (FIXTURES.md §2/§3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.io.synth import _CLUSTERS, _hash01, images_df
from cov_tiles_spark.pipeline.materialize import assign_tiles
from cov_tiles_spark.spatial.knn import knn_broadcast, knn_cell_pruned
from cov_tiles_spark.spatial.pip import pip_join_broadcast, point_in_rings_np
from cov_tiles_spark.spatial.tiling import DEFAULT_EXTENT

N = 800


def _tile_boundaries_df(assigned_tiles):
    """One boundary polygon per distinct (z,x,y) in ``assigned_tiles``,
    plus a ring of empty neighbor tiles as negative cases, on the
    ``DEFAULT_EXTENT`` grid ``assign_tiles`` uses.

    Boundary = the full tile square (open ring, counts-not-offsets SoA);
    every 20th tile (deterministic by hash) gets an interior hole
    covering the center 1/8 of the tile to exercise ring topology.
    """
    tiles = assigned_tiles.select("z", "x", "y").distinct()
    offs = F.array([F.lit(-1), F.lit(0), F.lit(1)])
    neighbors = (
        tiles.withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            "z",
            (F.col("x") + F.col("dx")).alias("x"),
            (F.col("y") + F.col("dy")).alias("y"),
        )
        .filter((F.col("x") >= 0) & (F.col("y") >= 0))
        .distinct()
    )
    e = DEFAULT_EXTENT
    lo, hi = e * 7 // 16, e * 9 // 16
    with_hole = F.pmod(F.xxhash64("z", "x", "y"), F.lit(20)) == 0
    shell = [0, 0, e, 0, e, e, 0, e]  # open CCW-in-screen square
    hole = [lo, lo, hi, lo, hi, hi, lo, hi]
    boundary = F.when(
        with_hole,
        F.struct(
            F.array(F.lit(2)).alias("part_offsets"),
            F.array(F.lit(4), F.lit(4)).alias("ring_offsets"),
            F.array(*[F.lit(v) for v in shell + hole]).alias("vertex_buffer"),
        ),
    ).otherwise(
        F.struct(
            F.array(F.lit(1)).alias("part_offsets"),
            F.array(F.lit(4)).alias("ring_offsets"),
            F.array(*[F.lit(v) for v in shell]).alias("vertex_buffer"),
        )
    )
    return neighbors.withColumn("extent", F.lit(e)).withColumn(
        "boundary", boundary
    ).withColumn("is_hole_case", with_hole)


def _knn_queries_df(spark, n: int):
    """Deterministic query points: half near the corpus hot spots, half
    uniform; ``k`` cycles 1, 5, 9."""
    ids = np.arange(n, dtype=np.int64)
    u = _hash01(ids + 10_000_000, 7)
    pick = (_hash01(ids + 10_000_000, 8) * len(_CLUSTERS)).astype(np.int64)
    cl = np.array(_CLUSTERS)
    u1 = np.clip(_hash01(ids + 10_000_000, 9), 1e-12, 1.0)
    u2 = _hash01(ids + 10_000_000, 10)
    g1 = np.sqrt(-2 * np.log(u1)) * np.cos(2 * np.pi * u2)
    g2 = np.sqrt(-2 * np.log(u1)) * np.sin(2 * np.pi * u2)
    lon = np.where(
        u < 0.5,
        cl[pick, 0] + cl[pick, 2] * g1,
        _hash01(ids + 10_000_000, 11) * 360.0 - 180.0,
    )
    lat = np.where(
        u < 0.5,
        cl[pick, 1] + cl[pick, 2] * g2,
        _hash01(ids + 10_000_000, 12) * 170.0 - 85.0,
    )
    pdf = pd.DataFrame(
        {
            "query_id": [f"q-{j:06d}" for j in ids.tolist()],
            "lon": np.clip(lon, -179.999, 179.999),
            "lat": np.clip(lat, -85.0, 85.0),
            "k": (ids % 3 * 4 + 1).astype(np.int32),
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def corpus(spark):
    return images_df(spark, N, partitions=4).cache()


def test_point_in_rings_kernel():
    # unit square with a center hole
    ring_lengths = np.array([4, 4])
    vb = np.array([0, 0, 10, 0, 10, 10, 0, 10,  4, 4, 6, 4, 6, 6, 4, 6])
    px = np.array([5.0, 1.0, 11.0, 4.5, -1.0])
    py = np.array([5.0, 1.0, 5.0, 4.5, 5.0])
    inside = point_in_rings_np(px, py, ring_lengths, vb)
    # center is in the hole; (1,1) inside; (11,5) outside; (4.5,4.5) in hole
    np.testing.assert_array_equal(inside, [False, True, False, False, False])


def test_pip_join(spark, corpus):
    assigned = assign_tiles(corpus.select("image_id", "lon", "lat"), [5]).cache()
    bounds = _tile_boundaries_df(assigned).cache()

    result = pip_join_broadcast(
        assigned.select("image_id", "z", "x", "y", "local_x", "local_y"), bounds
    ).collect()
    assert len(result) == N
    bmap = {
        (r.z, r.x, r.y): r
        for r in bounds.select("z", "x", "y", "boundary", "is_hole_case").collect()
    }
    n_hole_excluded = 0
    for r in result:
        b = bmap[(r.z, r.x, r.y)]
        expected = point_in_rings_np(
            np.array([float(r.local_x)]),
            np.array([float(r.local_y)]),
            np.array(b.boundary.ring_offsets),
            np.array(b.boundary.vertex_buffer),
        )[0]
        assert r.inside == expected, (r.image_id, r.z, r.x, r.y)
        if b.is_hole_case and not r.inside:
            n_hole_excluded += 1
    # every point is inside its own tile square unless it fell in a hole
    outside = [r for r in result if not r.inside]
    assert all(bmap[(r.z, r.x, r.y)].is_hole_case for r in outside)


def _knn_oracle(p_lon, p_lat, p_ids, q_lon, q_lat, k):
    """Brute-force haversine kNN with (dist, id) tie-break."""
    R = 6_371_008.8
    lat1 = np.radians(p_lat)[None, :]
    lat2 = np.radians(q_lat)[:, None]
    dlat = lat1 - lat2
    dlon = np.radians(p_lon)[None, :] - np.radians(q_lon)[:, None]
    a = np.sin(dlat / 2) ** 2 + np.cos(lat2) * np.cos(lat1) * np.sin(dlon / 2) ** 2
    dist = 2 * R * np.arcsin(np.sqrt(a))
    out = []
    for qi in range(len(q_lon)):
        order = sorted(range(len(p_ids)), key=lambda j: (dist[qi, j], p_ids[j]))
        out.append([(p_ids[j], dist[qi, j]) for j in order[:k]])
    return out


def test_knn_broadcast_matches_oracle(spark, corpus):
    queries = _knn_queries_df(spark, 40).cache()
    res = knn_broadcast(corpus, queries, k=None).collect()

    pts = corpus.select("image_id", "lon", "lat").collect()
    p_ids = [r.image_id for r in pts]
    p_lon = np.array([r.lon for r in pts])
    p_lat = np.array([r.lat for r in pts])
    qs = queries.collect()
    oracle = _knn_oracle(
        p_lon, p_lat, p_ids,
        np.array([q.lon for q in qs]), np.array([q.lat for q in qs]),
        k=9,
    )
    got: dict[str, list] = {}
    for r in res:
        got.setdefault(r.query_id, []).append((r.rank, r.point_id, r.dist_m))
    for qi, q in enumerate(qs):
        expect = oracle[qi][: q.k]
        mine = sorted(got[q.query_id])
        assert len(mine) == q.k, q.query_id
        for (rank, pid, dist), (opid, odist) in zip(mine, expect):
            assert pid == opid, (q.query_id, rank, pid, opid)
            assert abs(dist - odist) < 1e-6 * max(1.0, odist)


def test_knn_cell_pruned_exact_or_flagged(spark, corpus):
    queries = _knn_queries_df(spark, 40).select("query_id", "lon", "lat").cache()
    k = 5
    good, bad = knn_cell_pruned(corpus, queries, k=k, bits=5)
    good_rows = good.collect()
    bad_ids = {r.query_id for r in bad.collect()}

    # every guaranteed query must match the exact broadcast result
    exact = {
        (r.query_id, r.rank): r.point_id
        for r in knn_broadcast(corpus, queries, k=k).collect()
    }
    assert good_rows, "cell-pruned kNN returned nothing"
    for r in good_rows:
        assert r.query_id not in bad_ids
        assert exact[(r.query_id, r.rank)] == r.point_id, (r.query_id, r.rank)
    # coverage: guaranteed + flagged == all queries
    covered = {r.query_id for r in good_rows} | bad_ids
    assert covered == {r.query_id for r in queries.collect()}


def test_knn_exact_wraps_antimeridian(spark):
    """Regression: a query near lon=+-180 must see closer points on the
    other side of the seam (3x3 cell neighborhood wraps in x), and the
    exactness guarantee must not falsely certify a seam-blind result."""
    from cov_tiles_spark.spatial.knn import knn_exact

    pts = [
        (1, 179.95, 10.0),    # 6 km east across the seam from the query
        (2, -179.0, 10.0),    # ~110 km east
        (3, -170.0, 10.0),    # far
        (4, 179.0, 10.0),     # ~116 km west (other side)
        (5, 170.0, 10.0),     # far
    ]
    points = spark.createDataFrame(pts, "image_id long, lon double, lat double")
    queries = spark.createDataFrame(
        [(0, -179.99, 10.0)], "query_id long, lon double, lat double"
    )
    res = knn_exact(points, queries, k=3, bits=5).collect()
    got = [r.point_id for r in sorted(res, key=lambda r: r.rank)]
    assert got == [1, 2, 4], got


def _inside_scalar(px: float, py: float, ring_lengths, vertex_buffer) -> bool:
    """Scalar even-odd ray cast, one edge at a time: the point is inside
    when a ray to +x crosses the rings' edges an odd number of times."""
    inside = False
    start = 0
    for n in ring_lengths:
        ring = [
            (vertex_buffer[2 * i], vertex_buffer[2 * i + 1])
            for i in range(start, start + n)
        ]
        start += n
        for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
            if (y1 > py) != (y2 > py):
                x_cross = x1 + (py - y1) / (y2 - y1) * (x2 - x1)
                if px < x_cross:
                    inside = not inside
    return inside


def test_pip_join_broadcast_matches_scalar_oracle(spark, corpus):
    """Concave shells with holes, and tiles without a boundary, against
    a scalar ray cast written independently of ``point_in_rings_np``."""
    assigned = assign_tiles(corpus.select("image_id", "lon", "lat"), [5])
    pts = assigned.select("image_id", "z", "x", "y", "local_x", "local_y")
    e = DEFAULT_EXTENT
    # a U-shaped shell (notch from the top down to mid-tile) with a
    # square hole in its left arm
    shell = [0, 0, e, 0, e, e, 3 * e // 4, e, 3 * e // 4, e // 2,
             e // 4, e // 2, e // 4, e, 0, e]
    hole = [e // 16, e // 8, e // 8, e // 8, e // 8, e // 4, e // 16, e // 4]
    tiles = sorted({(r.z, r.x, r.y) for r in pts.select("z", "x", "y").collect()})
    rows = [
        (z, x, y, ([8, 4], shell + hole) if i % 2 else ([8], shell))
        for i, (z, x, y) in enumerate(tiles)
        if i % 3  # every third tile has no boundary: all its points are out
    ]
    bounds = spark.createDataFrame(
        rows,
        "z int, x int, y int, "
        "boundary struct<ring_offsets: array<int>, vertex_buffer: array<int>>",
    )
    bmap = {(z, x, y): b for z, x, y, b in rows}

    got = pip_join_broadcast(pts, bounds).collect()
    assert len(got) == N
    n_in = 0
    for r in got:
        b = bmap.get((r.z, r.x, r.y))
        want = b is not None and _inside_scalar(
            float(r.local_x), float(r.local_y), *b
        )
        assert r.inside == want, (r.image_id, r.z, r.x, r.y)
        n_in += want
    assert 0 < n_in < N  # both outcomes occur
