"""SemDeDup-style semantic dedup (operators/semdedup.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.operators.semdedup import _prune_cluster, semantic_dedup
from cov_tiles_spark.operators.similarity import spherical_kmeans


def _clustered_corpus(n_clusters=4, per=40, dim=16, dups_per=5, seed=3):
    """Well-separated unit clusters + exact-duplicate plants; returns
    (ids, vecs, planted_dup_ids)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, dup_ids = [], []
    nid = 0
    for c in range(n_clusters):
        base = []
        for _ in range(per):
            v = centers[c] + 0.05 * rng.normal(size=dim)
            rows.append((nid, (v / np.linalg.norm(v)).tolist()))
            base.append(nid)
            nid += 1
        for j in range(dups_per):  # exact copies of the first members
            src = rows[base[j]][1]
            rows.append((nid, list(src)))
            dup_ids.append(nid)
            nid += 1
    return rows, set(dup_ids)


def test_semantic_dedup_drops_planted_keeps_lowest(spark):
    rows, dup_ids = _clustered_corpus()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(7)
    out = {
        r.id: r
        for r in semantic_dedup(
            df, "embedding", "vec_id", n_centroids=4, threshold=0.999
        ).collect()
    }
    assert len(out) == len(rows)
    # every planted exact copy is dropped; its (lower-id) source is kept
    for d in dup_ids:
        assert not out[d].is_kept, d
    dropped = {i for i, r in out.items() if not r.is_kept}
    assert dropped == dup_ids  # threshold .999: only exact copies pair up
    # copies land in their source's cluster
    for d in dup_ids:
        srcs = [i for i in out if out[i].is_kept and out[i].list_id == out[d].list_id]
        assert srcs


def test_semantic_dedup_deterministic_across_partitioning(spark):
    rows, _ = _clustered_corpus(seed=9)
    df1 = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(3)
    df2 = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(13)
    kw = dict(vec_col="embedding", id_col="vec_id", n_centroids=4,
              threshold=0.95)
    a = sorted(map(tuple, semantic_dedup(df1, **kw).collect()))
    b = sorted(map(tuple, semantic_dedup(df2, **kw).collect()))
    assert a == b


def test_semantic_dedup_lower_threshold_drops_more(spark):
    rows, _ = _clustered_corpus()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kw = dict(vec_col="embedding", id_col="vec_id", n_centroids=4)
    strict = semantic_dedup(df, threshold=0.999, **kw)
    loose = semantic_dedup(df, threshold=0.9, **kw)
    n_strict = strict.filter(~F.col("is_kept")).count()
    n_loose = loose.filter(~F.col("is_kept")).count()
    assert n_loose >= n_strict
    assert n_loose > len(rows) // 2  # tight 0.05-sigma clusters collapse


def test_cluster_cap_drops_with_log(spark, caplog):
    rows, _ = _clustered_corpus(n_clusters=2, per=30, dups_per=0)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    import logging

    with caplog.at_level(logging.WARNING, "cov_tiles_spark.operators.semdedup"):
        out = semantic_dedup(
            df, "embedding", "vec_id", n_centroids=2,
            threshold=0.95, max_cluster_size=10,
        ).collect()
    assert out == []  # both clusters exceed the cap
    assert any("max_cluster_size" in r.message for r in caplog.records)


def test_prune_cluster_blocked_equals_unblocked():
    """The row-block schedule must not change verdicts (same float64
    path for any block size on this data)."""
    import pandas as pd

    rng = np.random.default_rng(1)
    m = rng.normal(size=(300, 8))
    m[50] = m[10]  # exact dup
    m[299] = m[0]
    pdf = pd.DataFrame({
        "id": np.arange(300), "list_id": np.zeros(300, np.int32),
        "vec": [v.tolist() for v in m],
    })
    full = _prune_cluster(pdf, 0.98, block=4096)
    tiny = _prune_cluster(pdf, 0.98, block=7)
    assert full.equals(tiny)
    assert not full.is_kept[50] and not full.is_kept[299]
    assert full.is_kept[10] and full.is_kept[0]


def test_spherical_kmeans_deterministic_and_unit_norm():
    rng = np.random.default_rng(5)
    m = rng.normal(size=(500, 12))
    c1 = spherical_kmeans(m, 6)
    c2 = spherical_kmeans(m.copy(), 6)
    np.testing.assert_array_equal(c1, c2)
    np.testing.assert_allclose(np.linalg.norm(c1, axis=1), 1.0, rtol=1e-12)
