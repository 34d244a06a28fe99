"""Bbox range join (spatial/rangejoin.py) and as-of join
(operators/asof.py) vs brute-force python oracles."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from cov_tiles_spark.operators.asof import asof_join
from cov_tiles_spark.spatial.rangejoin import bbox_join


def test_bbox_join_matches_bruteforce(spark):
    rng = np.random.default_rng(3)
    n_pts, n_box = 2000, 60
    plon = rng.uniform(-179, 179, n_pts)
    plat = rng.uniform(-80, 80, n_pts)
    clon = rng.uniform(-170, 170, n_box)
    clat = rng.uniform(-70, 70, n_box)
    w = rng.uniform(0.5, 15, n_box)   # some boxes span many z4 cells,
    h = rng.uniform(0.5, 10, n_box)   # some sit inside one

    pts = spark.createDataFrame(
        [(i, float(plon[i]), float(plat[i])) for i in range(n_pts)],
        "point_id long, lon double, lat double",
    )
    boxes = spark.createDataFrame(
        [
            (j, float(clon[j] - w[j]), float(clon[j] + w[j]),
             float(clat[j] - h[j]), float(clat[j] + h[j]))
            for j in range(n_box)
        ],
        "box_id long, lon_min double, lon_max double, lat_min double, lat_max double",
    )
    got = {
        (r.point_id, r.box_id)
        for r in bbox_join(pts, boxes, zoom=4).select("point_id", "box_id").collect()
    }
    expected = set()
    for j in range(n_box):
        m = (
            (plon >= clon[j] - w[j]) & (plon <= clon[j] + w[j])
            & (plat >= clat[j] - h[j]) & (plat <= clat[j] + h[j])
        )
        expected.update((int(i), j) for i in np.flatnonzero(m))
    assert got == expected
    assert len(expected) > 100  # non-trivial overlap


def test_asof_join_matches_bruteforce(spark):
    rng = np.random.default_rng(5)
    lefts, rights = [], []
    for u in range(8):
        for i in range(60):
            lefts.append((u * 100 + i, u, int(rng.integers(0, 1000))))
        for j in range(7):
            rights.append((u * 10 + j, u, int(rng.integers(0, 1000))))
    # make right unique per (user, t)
    seen = {}
    for rid, u, t in rights:
        seen[(u, t)] = max(seen.get((u, t), -1), rid)
    rights = [(rid, u, t) for (u, t), rid in seen.items()]

    left = spark.createDataFrame(lefts, "lid long, user long, t long")
    right = spark.createDataFrame(rights, "rid long, user long, t long")
    got = {
        r.lid: r.rid
        for r in asof_join(left, right, "t", ["user"], ["rid"]).collect()
    }
    for lid, u, t in lefts:
        cands = [(tt, rid) for rid, uu, tt in rights if uu == u and tt <= t]
        want = max(cands)[1] if cands else None
        assert got[lid] == want, (lid, u, t, got[lid], want)


def test_asof_equal_timestamp_matches(spark):
    left = spark.createDataFrame([(1, 0, 100)], "lid long, user long, t long")
    right = spark.createDataFrame([(9, 0, 100)], "rid long, user long, t long")
    out = asof_join(left, right, "t", ["user"], ["rid"]).collect()
    assert out[0].rid == 9  # <= semantics: equal time matches
