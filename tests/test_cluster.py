"""Connected-components dedup clustering vs a scalar union-find oracle."""

from __future__ import annotations

import numpy as np
import pytest

from cov_tiles_spark.operators.cluster import connected_components, dedup_clusters


class UnionFind:
    def __init__(self):
        self.p: dict[int, int] = {}

    def find(self, x: int) -> int:
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)

    def labels(self) -> dict[int, int]:
        return {n: self.find(n) for n in list(self.p)}


def _expected(pairs: list[tuple[int, int]]) -> dict[int, int]:
    uf = UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    return uf.labels()


def _run(spark, pairs: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = connected_components(df).collect()
    return {r["node"]: r["label"] for r in out}


def test_chain_and_islands(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)]
    assert _run(spark, pairs) == _expected(pairs)


def test_long_chain_converges_logarithmically(spark):
    # a 200-node path has diameter 199: naive min-propagation would need
    # ~199 rounds; large/small-star must finish within the default rail.
    pairs = [(i, i + 1) for i in range(200)]
    got = _run(spark, pairs)
    assert got == {i: 0 for i in range(201)}


def test_random_graph_matches_union_find(spark):
    rng = np.random.default_rng(7)
    n = 500
    pairs = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(400, 2))
        if a != b
    ]
    assert _run(spark, pairs) == _expected(pairs)


def test_self_loops_and_duplicate_edges_ignored(spark):
    pairs = [(5, 5), (1, 2), (2, 1), (1, 2)]
    got = _run(spark, pairs)
    # 5 only ever appears in a loop edge -> not in the pair graph
    assert got == {1: 1, 2: 1}


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_dedup_clusters_keep_flags(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    rows = {
        r["doc_id"]: (r["cluster"], r["is_canonical"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert rows == {
        0: (0, True),
        3: (0, False),
        5: (0, False),
        1: (1, True),
        2: (1, False),
        4: (4, True),   # singleton
        6: (6, True),
        7: (7, True),
    }


def test_non_convergence_rail_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError):
        connected_components(df, max_iter=0)
