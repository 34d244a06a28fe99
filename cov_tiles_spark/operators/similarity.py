"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``      : brute-force exact top-k against one query vector,
                         entirely JVM-side (``zip_with``/``aggregate``
                         higher-order functions — no Python in the scan).
- ``retrieval_eval``   : label-match recall@k / precision@k / MRR over a
                         deterministic query sample — the acceptance
                         gate for embedding-based curation.
- ``hard_negatives``   : per-query top-k most-similar DIFFERENT-label
                         items (contrastive-training pair mining).
- ``ivf_train_centroids`` / ``ivf_assign`` / ``ivf_topk`` : IVF
                         (inverted-file) ANN — spherical k-means coarse
                         quantizer trained on a bounded sample, corpus
                         assigned to inverted lists, queries probe only
                         the ``nprobe`` nearest lists.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cov_tiles_spark.operators import single_partition_key


def _dot_expr(a, b):
    # cast BEFORE multiply: float32 products differ from double products at
    # ~1e-7 relative, which breaks cross-engine (DuckDB oracle) rounding
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_expr(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _query_cosine(vec_col: str, query: list[float]) -> F.Column:
    """Cosine of ``vec_col`` against one query vector, JVM-side."""
    q = F.array(*[F.lit(float(v)) for v in query])
    q_norm = float(np.linalg.norm(np.asarray(query, dtype=np.float64)))
    return _dot_expr(F.col(vec_col), q) / (_norm_expr(F.col(vec_col)) * F.lit(q_norm))


def top_k(
    scored: DataFrame, score_col: str, k: int, order_round: int | None
) -> DataFrame:
    """The k rows of ``scored`` (which has an ``id`` column) with the
    largest ``(score, id)`` key, the score rounded to ``order_round``
    places when given, with a 1-based ``rank`` in key order.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject: every
    partition keeps a local top-k heap and only k rows per partition
    reach the final merge. (A global ``row_number`` window would funnel
    ALL rows through one task.) Rounding makes last-ulp float summation
    differences across engines unable to flip ranks — ties then break
    deterministically by id. A caller that drops ``rank`` drops the
    window with it (column pruning)."""
    key = F.col(score_col)
    if order_round is not None:
        key = F.round(key, order_round)
    order = [F.col("_ord").desc(), F.col("id")]
    # the constant partition key is the single-partition execution a
    # global limit already implies; it avoids Spark's unpartitioned-
    # window warning for this designed post-limit shape
    w = Window.partitionBy(single_partition_key("id")).orderBy(*order)
    return (
        scored.withColumn("_ord", key)
        .orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .drop("_ord")
    )


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    order_round: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine similarity to one query vector (JVM-side),
    ranked by :func:`top_k` (``order_round`` as there)."""
    scored = df.select(
        F.col(id_col).alias("id"), _query_cosine(vec_col, query).alias("cosine")
    )
    return top_k(scored, "cosine", k, order_round).select("rank", "id", "cosine")


def train_sample_rows(
    df: DataFrame, id_col: str, vec_col: str, sample_n: int
) -> list:
    """Bounded deterministic training sample WITHOUT a full-corpus
    TakeOrdered pass.

    ``orderBy(id).limit(n)`` compiles to TakeOrderedAndProject — no
    shuffle, but every partition still runs the sort-compare over all
    its rows. This instead applies the map-only portable hash filter
    (``operators/sampling.py``) at a rate targeting ~3x ``sample_n``
    survivors, then sort-truncates the small survivor set driver-side
    by (hash, id) to <= ``sample_n`` rows. Deterministic under any
    partitioning (the hash is a pure key function); one metadata-cheap
    count plus one filter scan."""
    from cov_tiles_spark.operators.sampling import sample_hash, threshold

    h = sample_hash(F.xxhash64(F.col(id_col)), seed=7)
    cand = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), h.alias("_h")
    )
    n = df.count()
    if n > 3 * sample_n:
        cand = cand.filter(F.col("_h") < F.lit(threshold(3.0 * sample_n / n)))
    rows = cand.collect()
    rows.sort(key=lambda r: (r["_h"], r["id"]))
    return rows[:sample_n]


def spherical_kmeans(m: np.ndarray, k: int) -> np.ndarray:
    """Deterministic spherical k-means over an already-materialized
    sample matrix: zero-norm rows dropped, the rest unit-normalized,
    farthest-point init, 10 Lloyd iterations with empty clusters
    keeping their previous centroid. Returns unit-norm (k, dim)."""
    norms = np.linalg.norm(m, axis=1)
    m = m[norms > 0] / norms[norms > 0, None]
    # deterministic farthest-point init (greedy k-means++ without the
    # randomness): start at the first sample row, then repeatedly take
    # the row least similar to its nearest already-chosen centroid
    chosen = [0]
    best_sim = m @ m[0]
    for _ in range(1, k):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, m @ m[nxt])
    centroids = m[chosen].copy()
    for _ in range(10):
        assign = np.argmax(m @ centroids.T, axis=1)
        for c in range(k):
            members = m[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    centroids[c] = v / n
    return centroids


def ivf_train_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
) -> np.ndarray:
    """Train the IVF coarse quantizer: :func:`spherical_kmeans` on a
    bounded, deterministic sample.

    The quantizer is tiny (``n_centroids x dim`` floats) and training
    needs only a representative sample, so the standard IVF recipe is a
    driver-side fit on <= 20,000 rows — the full corpus is never
    collected (sample via the map-only hash filter of
    :func:`train_sample_rows`; no full-corpus sort-compare).
    Deterministic: the sample is hash-ordered. Returns unit-norm
    centroids ``(n_centroids, dim)`` float64.
    """
    rows = train_sample_rows(df, id_col, vec_col, 20_000)
    m = np.stack([np.asarray(r.vec, dtype=np.float64) for r in rows])
    return spherical_kmeans(m, n_centroids)


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: np.ndarray
) -> DataFrame:
    """Add ``list_id`` (nearest-centroid index) to every row.

    One vectorized pandas UDF over the broadcast quantizer — the 100 TB
    build step. Persist the result partitioned/bucketed by ``list_id``
    and ``ivf_topk``'s probe filter becomes partition pruning instead of
    a full scan.
    """
    c = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series(np.argmax((m / norms[:, None]) @ c.T, axis=1).astype(np.int32))

    return df.withColumn("list_id", nearest(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int,
    centroids: np.ndarray,
    nprobe: int = 4,
    order_round: int | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` inverted lists whose centroids
    are nearest the query, exact cosine re-rank inside them
    (TakeOrderedAndProject — per-partition heaps, never a global window).

    ``nprobe == len(centroids)`` degrades gracefully to exact brute-force
    (every list probed), which is how the driver gate oracles it.
    ``order_round`` as in :func:`top_k`.
    """
    c = np.asarray(centroids, dtype=np.float64)
    qv = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(qv)
    probe = np.argsort(-(c @ (qv / qn)))[:nprobe].astype(int).tolist()

    assigned = ivf_assign(df, vec_col, c).filter(F.col("list_id").isin(probe))
    scored = assigned.select(
        F.col(id_col).alias("id"), _query_cosine(vec_col, query).alias("cosine")
    )
    return top_k(scored, "cosine", k, order_round).select("rank", "id", "cosine")


def _superset_keep(
    cos: np.ndarray, valid: np.ndarray, ids: np.ndarray, k: int, slack: float
) -> np.ndarray:
    """Keep mask over one decision-pass batch (rows x queries): a superset
    of the pairs the final ``cosine desc, id`` window can rank <= k.

    A finite cosine is kept when it is within ``slack`` of the batch's
    k-th best finite cosine for that query. NaN cosines (zero-norm or
    NaN-component vectors) sort FIRST under the JVM's desc order, ties
    broken by id, so per query only the batch's k smallest-id NaN rows
    can win; a zero-norm query would otherwise ship the whole batch.
    NaNs must not poison the finite k-th threshold either (a NaN kth
    would drop every finite candidate in the batch)."""
    nb = len(ids)
    nan_c = np.isnan(cos)
    masked = np.where(valid & ~nan_c, cos, -np.inf)
    kth = -np.partition(-masked, min(k, nb) - 1, axis=0)[min(k, nb) - 1]
    keep = valid & ~nan_c & (masked >= kth[None, :] - slack)
    nan_v = valid & nan_c
    if nan_v.any():
        by_id = np.argsort(ids, kind="stable")
        nan_v[by_id] &= np.cumsum(nan_v[by_id], axis=0) <= k
    return keep | nan_v


def _self_retrieval_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int,
    query_rate: float,
    seed: int,
    different_label_only: bool = False,
    max_queries: int | None = 65536,
) -> DataFrame:
    """Shared core of :func:`retrieval_eval` / :func:`hard_negatives`:
    exact cosine top-k neighbors (self excluded) for a deterministic
    hash-sampled query subset of the corpus.

    Scale shape: the query set is small by construction — rate-bounded
    portable hash sample AND absolutely capped at ``max_queries`` (a
    rate alone grows linearly with the corpus, so the broadcast side
    would eventually OOM the driver; the cap keeps the ``max_queries``
    smallest hash values, which is deterministic and coincides with the
    pure rate sample whenever the sample is under the cap) — so it
    rides a **broadcast** against the corpus: the 100 TB side is scanned
    once and never shuffled. The per-query top-k is a ``row_number``
    window + ``rank <= k`` filter, which Catalyst compiles to
    ``WindowGroupLimit`` with a **Partial** pass before the exchange —
    each input partition keeps only k rows per query JVM-side, so the
    shuffle carries <= partitions x queries x k rows instead of the full
    cartesian (the same local-then-global monoid as
    ``spatial/knn.py _local_topk``, but in whole-stage codegen instead
    of the Arrow channel; plan-asserted in tests/test_plans.py).

    Rank key is ``round(cosine, 6)`` with id tiebreak — the
    same cross-engine rank-stability device as :func:`cosine_topk`.
    Returns (query_id, query_label, rank, id, label, cosine), rank <= k.
    """
    from cov_tiles_spark.operators.sampling import sample_hash, threshold

    corpus = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("vec"),
    )
    queries = corpus.filter(
        sample_hash(F.col("id"), seed) < F.lit(threshold(query_rate))
    ).select(
        F.col("id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("vec").alias("q_vec"),
    )
    if max_queries is not None:
        # top-N by (hash, id): a TakeOrdered reduction, never a global
        # sort — and a no-op below the cap, so gate results are the pure
        # rate sample while real scale stays driver-safe
        queries = queries.orderBy(
            sample_hash(F.col("query_id"), seed), F.col("query_id")
        ).limit(max_queries)
    # ---- round-6 rewrite: numpy decision pass, JVM decision ranking ----
    # The old shape materialized the full |corpus| x |queries| broadcast
    # nested-loop join (every pair row carrying BOTH 64-float vectors),
    # computed the fold dot per pair, and sorted all 40M pair rows for
    # the window — 150-330s at sf1. This keeps the exact same result:
    #
    # 1. the query table (rate-sampled, max_queries-capped) is collected
    #    once (bounded: <= max_queries rows) into a numpy matrix;
    # 2. a mapInPandas pass over the corpus computes all cosines as a
    #    batch x queries matrix. BIT-IDENTICAL to the JVM expressions:
    #    the dot/norm loops are vectorized across PAIRS but sequential
    #    over the dimension, i.e. acc = acc + v[j]*q[j] in IEEE double —
    #    exactly the _dot_expr/_norm_expr left fold (0.0 + p == p), and
    #    cos = dot / (n * qn) with the same operand order;
    # 3. per batch it keeps, per query, every row whose RAW cosine is
    #    within 1.01e-6 of the k-th best raw cosine — a PROVABLE
    #    superset of the rounded-key top-k: |x - round6(x)| <= 5e-7, so
    #    any row more than 1e-6 below the k-th raw value has a strictly
    #    smaller round6 key than k better rows and can never rank <= k;
    #    NaN cosines are capped at the k smallest ids (`_superset_keep`);
    # 4. the JVM applies the ORIGINAL round(cosine, 6) to the
    #    (exactly transported) raw doubles and ranks the small kept set
    #    with the original window — identical keys, identical ties,
    #    identical output rows.
    #
    # Self-exclusion and the different-label filter still run BEFORE the
    # top-k (masked in step 2), so exactness never depends on a
    # shortlist. Shuffle/sort volume drops from |pairs| rows to
    # ~partitions x queries x k.
    import numpy as np
    import pandas as pd

    q_rows = queries.collect()
    spark = df.sparkSession
    if not q_rows:
        from pyspark.sql.types import (
            DoubleType, IntegerType, LongType, StructField, StructType,
        )

        label_t = corpus.schema["label"].dataType
        id_t = corpus.schema["id"].dataType
        return spark.createDataFrame(
            [],
            StructType([
                StructField("query_id", id_t),
                StructField("query_label", label_t),
                StructField("rank", IntegerType()),
                StructField("id", id_t),
                StructField("label", label_t),
                StructField("cosine", DoubleType()),
            ]),
        )
    # id dtype follows the corpus schema (the empty-queries branch above
    # already does): integral ids ride int64 numpy, anything else rides
    # object arrays and the id column's own Spark type in the mapInPandas
    # schema. (The operator contract is integral ids regardless —
    # sample_hash above does ring arithmetic on the id — but the schema
    # must not silently widen int ids to long.)
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_t = corpus.schema["id"].dataType
    id_integral = isinstance(id_t, (ByteType, ShortType, IntegerType, LongType))
    id_np = np.int64 if id_integral else object
    id_sql = id_t.simpleString()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=id_np)
    q_labels = [r["query_label"] for r in q_rows]
    # np.asarray keeps the element dtype Arrow delivered (float32 for
    # array<float>, float64 for array<double>); the astype to float64 is
    # then exactly the JVM's per-element cast-to-double
    qm = np.stack(
        [np.asarray(r["q_vec"]) for r in q_rows]
    ).astype(np.float64)
    n_dim = qm.shape[1]
    q_norm_acc = np.zeros(len(q_rows))
    for j in range(n_dim):
        q_norm_acc = q_norm_acc + qm[:, j] * qm[:, j]
    q_norms = np.sqrt(q_norm_acc)
    diff_only = different_label_only
    kk = k

    def decision_pass(batches):
        for pdf in batches:
            nb = len(pdf)
            if nb == 0:
                continue
            V = np.stack(
                [np.asarray(v) for v in pdf["vec"]]
            ).astype(np.float64)
            acc = np.zeros((nb, len(q_ids)))
            n_acc = np.zeros(nb)
            for j in range(n_dim):
                col = V[:, j]
                acc = acc + col[:, None] * qm[None, :, j]
                n_acc = n_acc + col * col
            cos = acc / (np.sqrt(n_acc)[:, None] * q_norms[None, :])
            ids = pdf["id"].to_numpy(id_np)
            valid = ids[:, None] != q_ids[None, :]
            if diff_only:
                codes, uniq = pd.factorize(
                    pd.Series(list(pdf["label"]) + q_labels, dtype=object)
                )
                # SQL ternary logic for the replaced `label != q_label`
                # filter: a NULL on EITHER side makes the predicate NULL
                # -> row filtered. factorize maps NULL to sentinel -1,
                # which would otherwise read as "different" and KEEP the
                # pair the JVM path excludes.
                row_c, q_c = codes[:nb, None], codes[nb:][None, :]
                valid &= (row_c != q_c) & (row_c != -1) & (q_c != -1)
            rows, qcols = np.nonzero(_superset_keep(cos, valid, ids, kk, 1.01e-6))
            if rows.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qcols],
                    "id": ids[rows],
                    "_raw": cos[rows, qcols],
                }
            )

    # pin the scan parallelism (CLAUDE.md): a single-row-group corpus
    # parquet would run the whole decision pass on 1-2 tasks
    par = spark.sparkContext.defaultParallelism
    kept = (
        corpus.repartition(par, "id")
        .select("id", "label", "vec")
        .mapInPandas(
            decision_pass,
            schema=f"query_id {id_sql}, id {id_sql}, _raw double",
        )
    )
    # reuse the Spark-side query subplan for the label attach: types
    # (and values) are exactly the sampled rows, no re-declared schema
    qmeta = queries.select("query_id", "query_label")
    labels = corpus.select("id", "label")
    # the pandas->Arrow boundary coerces NaN doubles to NULL; a NULL
    # _raw can ONLY be a NaN cosine (the numpy pass emits real float64,
    # never None), so restore it — NULL would sort LAST under the desc
    # window where the JVM's own NaN sorts FIRST (and the old pure-JVM
    # path emitted that NaN cosine in the output row)
    scored = (
        kept.withColumn(
            "cosine",
            F.round(
                F.coalesce(F.col("_raw"), F.lit(float("nan"))), 6
            ),
        )
        .select("query_id", "id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(F.broadcast(qmeta), "query_id")
        .join(labels, "id")
        .select("query_id", "query_label", "rank", "id", "label", "cosine")
    )


def retrieval_eval(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 10,
    query_rate: float = 0.1,
    seed: int = 5,
    max_queries: int | None = 65536,
) -> DataFrame:
    """Embedding-retrieval quality evaluation: label-match recall@k,
    precision@k, and MRR over a deterministic query sample.

    The standard acceptance gate for embedding-based curation (semantic
    dedup, ANN index builds, CLIP-style filtering): sample queries from
    the corpus itself, retrieve exact top-k by cosine (self excluded),
    and score a retrieval as relevant when the neighbor carries the
    query's label. Per query: hit = any same-label neighbor in top-k,
    precision = same-label fraction of the k slots, reciprocal rank =
    1/rank of the first same-label neighbor (0 if none). Aggregated per
    query label -> (label, n_queries, recall_at_k, precision_at_k, mrr).

    Everything after the broadcast-scan core is a tiny per-query table;
    metrics are exact and engine-portable (rank key rounded, integer
    tiebreaks, fixed-dp output).
    """
    top = _self_retrieval_topk(
        df, vec_col, id_col, label_col, k, query_rate, seed,
        max_queries=max_queries,
    )
    hit = (F.col("label") == F.col("query_label")).cast("int")
    per_q = top.groupBy("query_id", "query_label").agg(
        F.max(hit).alias("_hit"),
        (F.sum(hit) / F.lit(float(k))).alias("_prec"),
        F.coalesce(
            F.lit(1.0) / F.min(F.when(hit == 1, F.col("rank"))), F.lit(0.0)
        ).alias("_rr"),
    )
    return (
        per_q.groupBy(F.col("query_label").alias("label"))
        .agg(
            F.count("*").alias("n_queries"),
            F.round(F.avg("_hit"), 6).alias("recall_at_k"),
            F.round(F.avg("_prec"), 6).alias("precision_at_k"),
            F.round(F.avg("_rr"), 6).alias("mrr"),
        )
        .orderBy("label")
    )


def hard_negatives(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    query_rate: float = 0.1,
    seed: int = 5,
    max_queries: int | None = 65536,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per sampled query,
    the ``k`` most-similar corpus items with a DIFFERENT label — the
    pairs a contrastive loss learns most from.

    Exact (not shortlist-bounded): the different-label filter is applied
    to the candidate stream BEFORE the top-k reduction, so the result is
    the true top-k of the filtered set at any scale — the
    filter-then-reduce ordering the q_pq_rerank sf0.1 lesson mandates
    for gate-facing operators. Returns (query_id, query_label, neg_rank,
    id, label, cosine).
    """
    return _self_retrieval_topk(
        df, vec_col, id_col, label_col, k, query_rate, seed,
        different_label_only=True, max_queries=max_queries,
    ).withColumnRenamed("rank", "neg_rank")
