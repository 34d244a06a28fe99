"""Semantic deduplication (SemDeDup-style): k-means cluster, then prune
cosine-near-duplicates within each cluster.

The cluster-based member of the dedup family (exact hash / MinHash /
SimHash / n-gram Jaccard / hyperplane-LSH live in ``operators/dedup.py``):
instead of hashing for candidate buckets, a spherical k-means partition
restricts the O(n²) cosine comparison to within-cluster pairs — the
public SemDeDup recipe (Abbas et al., 2023). At 100 TB the knobs are
``n_centroids`` (SemDeDup uses k in the tens of thousands, so cluster
size ~ corpus/k stays bounded AND k bounds the parallelism of the prune
stage) and ``max_cluster_size`` (degenerate clusters are dropped with a
logged count rather than detonating a worker — same contract as
``dedup._cap_buckets``).

Keep rule (deterministic, one pass): a vector is DROPPED iff some
lower-id vector in the same cluster has cosine >= threshold with it.
Comparing against all earlier ids (kept or not) keeps the rule
order-independent and fully vectorizable; it is at most as aggressive as
transitive-closure dedup and never drops a cluster's lowest-id member.

Training is a driver-side fit on the first 200,000 rows by id (tiny:
k x dim floats out). That id-ordered sample is what makes the
DuckDB/numpy oracle twin reproducible.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.operators.similarity import ivf_assign, spherical_kmeans

log = logging.getLogger(__name__)


def _prune_cluster(pdf: pd.DataFrame, threshold: float, block: int = 4096) -> pd.DataFrame:
    """Within one cluster: drop rows with an earlier near-duplicate.

    Rows are processed in id order; cosine against ALL earlier rows in
    row blocks (memory O(block x cluster), flops O(c² d) — bounded by
    ``max_cluster_size`` upstream)."""
    pdf = pdf.sort_values("id").reset_index(drop=True)
    m = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    norms[norms == 0] = 1.0
    m = m / norms[:, None]
    n = len(pdf)
    kept = np.ones(n, dtype=bool)
    for s in range(0, n, block):
        e = min(s + block, n)
        sims = m[s:e] @ m[:e].T  # rows s..e vs every earlier row
        earlier = np.arange(s, e)[:, None] > np.arange(e)[None, :]
        kept[s:e] = ~((sims >= threshold) & earlier).any(axis=1)
    return pd.DataFrame(
        {"id": pdf["id"], "list_id": pdf["list_id"], "is_kept": kept}
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 8,
    threshold: float = 0.95,
    max_cluster_size: int | None = 500_000,
) -> DataFrame:
    """Per-row semantic-dedup verdict: (id, list_id, is_kept).

    Plan shape: one driver-side training collect, one map-only assign
    (broadcast centroid matrix, vectorized pandas UDF), ONE shuffle on
    ``list_id`` into the per-cluster prune. No pairwise fan-out crosses
    the exchange — each vector ships once."""
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy("id")
        .limit(200_000)
        .collect()
    )
    m = np.stack([np.asarray(r.vec, dtype=np.float64) for r in rows])
    centroids = spherical_kmeans(m, n_centroids)
    assigned = ivf_assign(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        "vec",
        centroids,
    )
    if max_cluster_size is not None:
        sizes = assigned.groupBy("list_id").count()
        big = sizes.filter(F.col("count") > max_cluster_size).collect()
        if big:
            log.warning(
                "semantic_dedup: dropping %d cluster(s) over max_cluster_size=%d: %s",
                len(big), max_cluster_size,
                [(r.list_id, r["count"]) for r in big],
            )
            keep_ids = [r.list_id for r in sizes.collect()
                        if r["count"] <= max_cluster_size]
            assigned = assigned.filter(F.col("list_id").isin(keep_ids))
    thr = float(threshold)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        return _prune_cluster(pdf, thr)

    return assigned.groupBy("list_id").applyInPandas(
        prune, schema="id long, list_id int, is_kept boolean"
    )
