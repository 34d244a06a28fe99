"""Duplicate clustering: near-dup *pairs* -> connected components -> one
canonical representative per cluster.

The LSH operators in ``operators/dedup.py`` emit verified near-duplicate
pairs; an actual dedup pass needs the transitive closure of those pairs
(a ~ b, b ~ c => keep exactly one of {a, b, c}). That closure is
connected components over the pair graph, computed here with the
alternating large-star / small-star algorithm (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond" — public), which converges
in O(log n) rounds independent of graph diameter, unlike naive min-label
propagation whose round count is the component diameter (a duplicate
*chain* a~b~c~...~z would take |chain| rounds to collapse).

Scale shape: every step is built-in JVM DataFrame ops (groupBy-min +
join + distinct) shuffling only (long, long) edge pairs — no Python in
the loop; iterative lineage is truncated with ``localCheckpoint`` every
round so the plan does not grow exponentially (the classic iterative-
DataFrame trap). ``localCheckpoint`` keeps the blocks in executor
storage and needs no checkpoint directory, but losing an executor
mid-job loses its blocks and fails the job; the recovery is a rerun
from scratch. Convergence is detected with a single count+bit_xor
checksum aggregate per round (the star operators only ever shrink-or-
keep the edge multiset, so checksum equality == fixpoint).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def _canon(edges: DataFrame) -> DataFrame:
    """Orient every edge large->small: (a, b) with a > b; drop loops."""
    return (
        edges.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m(u)) for every neighbor v > u, m(u) = min(N(u) + {u})."""
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("_mn"))
    mins = mins.select(
        "a", F.least(F.col("a"), F.col("_mn")).alias("m")
    )
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Group by the larger endpoint; link its smaller neighbors + itself
    to the minimum. Input must be large->small oriented (_canon)."""
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    relink = (
        edges.join(mins, "a")
        .filter(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_link = mins.select("a", F.col("m").alias("b"))
    return relink.union(self_link).filter(F.col("a") != F.col("b")).distinct()


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent checksum) in ONE aggregate action.

    bit_xor(xxhash64(a,b)) not sum(): Spark 4 ANSI mode overflows a
    sum of 64-bit hashes (CLAUDE.md gotcha)."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("a", "b")).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"] or 0)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node in the pair graph with its component minimum.

    Returns ``(node, label)`` for every node that appears in the
    ``(id_a, id_b)`` edges of ``pairs``;
    label = smallest node id in its component. Nodes absent from
    ``pairs`` are singletons — callers join with a ``coalesce`` default
    (see :func:`dedup_clusters`).

    ``max_iter`` is a safety rail, not tuning: large/small-star converges
    in O(log n) rounds (~10 rounds covers 2^10-node components of any
    shape); hitting the rail raises rather than returning a partial
    clustering.
    """
    edges = _canon(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    ).localCheckpoint(eager=True)
    fp = _edge_fingerprint(edges)
    for it in range(max_iter):
        edges = _canon(_small_star(_large_star(edges))).localCheckpoint(eager=True)
        new_fp = _edge_fingerprint(edges)
        if new_fp == fp:
            logger.info("connected_components: converged after %d rounds", it + 1)
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within {max_iter} rounds"
        )
    # at fixpoint every edge is (member, root); roots label themselves
    members = edges.select(F.col("a").alias("node"), F.col("b").alias("label"))
    roots = edges.select(F.col("b").alias("node")).distinct()
    roots = roots.withColumn("label", F.col("node"))
    return members.union(roots).distinct()


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document a duplicate-cluster id and a keep flag.

    Output: ``(id_col, cluster, is_canonical)`` — ``cluster`` is the
    smallest doc id in the document's near-dup component (itself for
    singletons), ``is_canonical`` marks the one row per cluster a
    training pipeline keeps. The labels table is the number of *matched*
    docs (tiny vs the corpus), so the label join broadcasts when small;
    the corpus itself is never shuffled.
    """
    labels = connected_components(pairs)
    out = (
        docs.join(
            labels, docs[id_col] == labels["node"], "left"
        )
        .withColumn("cluster", F.coalesce(F.col("label"), F.col(id_col)))
        .withColumn("is_canonical", F.col("cluster") == F.col(id_col))
        .drop("node", "label")
    )
    return out
