"""Product quantization (PQ) for embedding columns — the memory-scale
ANN path (Jégou et al. 2011, public).

At 10^12 embeddings the vectors themselves are the bottleneck: 64 x f32
= 256 B/row (256 TB just for vectors). PQ splits each vector into ``m``
subspaces, k-means-quantizes each subspace to ``2^nbits`` codewords, and
stores one code byte per subspace — 8 B/row here (32x) — while queries
score candidates WITHOUT reconstructing: an asymmetric-distance (ADC)
table of query-to-codeword partial dot products is broadcast and scores
are ``m`` table lookups per row.

Division of labor with the rest of ``operators/similarity.py``: IVF
prunes WHICH rows to score (inverted-list probe), PQ shrinks WHAT is
stored and scanned; production systems compose them (IVF-PQ) — here
``pq_topk`` accepts any pre-filtered DataFrame, so composing is
``pq_topk(ivf_assign(...).filter(...))``.

Determinism: training mirrors ``ivf_train_centroids`` (bounded ordered
sample, farthest-point init, Lloyd with empty-cluster carry), so codes,
tables, and scores are reproducible run-to-run — the property the
driver-gate parquet oracle relies on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.operators.similarity import top_k, train_sample_rows


def _kmeans_1sub(m: np.ndarray, k: int) -> np.ndarray:
    """Deterministic k-means on one subspace sample (euclidean, 10 Lloyd
    iterations)."""
    chosen = [0]
    d2 = ((m - m[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((m - m[nxt]) ** 2).sum(axis=1))
    cents = m[chosen].copy()
    for _ in range(10):
        dist = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(dist, axis=1)
        for c in range(k):
            members = m[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    nbits: int = 4,
) -> np.ndarray:
    """Train per-subspace codebooks on a bounded deterministic sample
    (<= 20,000 rows).

    Returns ``(m, 2^nbits, dim//m)`` float64. Like the IVF quantizer,
    the codebooks are tiny and a representative sample suffices — the
    corpus is never collected (map-only hash-filter sample via
    ``similarity.train_sample_rows``, no full-corpus TakeOrdered)."""
    if dim % m:
        raise ValueError(f"dim={dim} must divide evenly into m={m} subspaces")
    sub = dim // m
    rows = train_sample_rows(df, id_col, vec_col, 20_000)
    x = np.stack([np.asarray(r.vec, dtype=np.float64) for r in rows])
    k = 1 << nbits
    return np.stack(
        [_kmeans_1sub(x[:, j * sub : (j + 1) * sub], k) for j in range(m)]
    )


def pq_encode(df: DataFrame, vec_col: str, codebooks: np.ndarray) -> DataFrame:
    """Add ``pq_code`` (array<int>, one codeword id per subspace).

    One vectorized pandas UDF per batch: for each subspace, a
    (batch x k) distance matrix and an argmin — no per-row Python. The
    encoded table is what a 10^12-row deployment persists; the float
    vectors need not travel further."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = cb.shape

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            # |x - c|^2 = |x|^2 - 2 x.c + |c|^2 ; |x|^2 constant per row
            dots = xs @ cb[j].T
            c2 = (cb[j] ** 2).sum(axis=1)
            codes[:, j] = np.argmin(c2[None, :] - 2.0 * dots, axis=1)
        return pd.Series(list(codes))

    return df.withColumn("pq_code", encode(F.col(vec_col)))


def pq_topk(
    encoded: DataFrame,
    id_col: str,
    query: list[float],
    k: int,
    codebooks: np.ndarray,
) -> DataFrame:
    """ADC top-k over PQ codes: score = sum_j LUT[j, code_j] where LUT
    holds the query's partial dot products with every codeword — m
    integer gathers per row, the vectors never load. Distributed
    ``orderBy().limit`` (TakeOrderedAndProject), never a global window.

    Scores approximate the true dot product (quantization error bounded
    by codebook resolution); recall under clustering is pytest-covered,
    and the driver gate pins exact score reproducibility against an
    independent scalar implementation."""
    scored = _pq_scored(encoded, id_col, query, codebooks)
    return top_k(scored, "score", k, None).select(
        "rank", "id", F.col("score").alias("adc_score")
    )


def _pq_scored(
    encoded: DataFrame, id_col: str, query: list[float], codebooks: np.ndarray
) -> DataFrame:
    """(id, score) via ADC table lookups — shared by pq_topk and
    pq_candidate_ids."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, sub = cb.shape
    qv = np.asarray(query, dtype=np.float64)
    lut = np.stack(
        [cb[j] @ qv[j * sub : (j + 1) * sub] for j in range(m)]
    )  # (m, k_codewords)

    @F.pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=float)
        c = np.stack(codes.to_numpy()).astype(np.int64)  # (rows, m)
        score = np.zeros(len(c))
        for j in range(m):
            score += lut[j][c[:, j]]
        return pd.Series(score)

    return encoded.select(
        F.col(id_col).alias("id"), adc(F.col("pq_code")).alias("score")
    )


def pq_candidate_ids(
    encoded: DataFrame,
    id_col: str,
    query: list[float],
    k: int,
    codebooks: np.ndarray,
) -> DataFrame:
    """ADC top-k candidate ID SET (no ranks): the shortlist feeding an
    exact re-rank only needs membership, so this skips
    :func:`pq_topk`'s post-limit rank window entirely — the same scored
    TakeOrdered on the same (raw score desc, id) key, one less
    single-partition pass."""
    scored = _pq_scored(encoded, id_col, query, codebooks)
    return top_k(scored, "score", k, None).select("id")
