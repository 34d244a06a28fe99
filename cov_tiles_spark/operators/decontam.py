"""Benchmark decontamination: flag training documents that contain any
word n-gram from an evaluation set.

The standard contamination pass (popularized by the GPT-3 and Llama
training reports, both public): a training document is contaminated if
any of its 13-word-grams appears in any benchmark document. This is NOT
near-dup detection — one embedded eval question inside an otherwise
unique document must flag it, which no whole-document similarity
threshold catches.

Scale shape: both sides reduce to (id, ngram_hash) pairs — the big side
via one vectorized rolling-hash UDF (words hashed once per doc, n-gram
hashes by polynomial combine over a sliding window), the benchmark side
the same way. Detection is a semi/anti join on the hash — benchmarks
are small, so Spark broadcasts them and the training corpus is flagged
map-side without shuffling documents. False positives are limited to
64-bit hash collisions (~n_grams^2 / 2^64 — negligible), false
negatives are impossible for exact n-gram matches after the shared
normalization (lowercase + whitespace split).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

_P = np.uint64(1000000007)
NGRAM = 13  # words per n-gram


def _word_hashes(text: str) -> np.ndarray:
    """FNV-1a per lowercased whitespace token.

    Plain Python ints mod 2^64, converted to uint64 ONCE at the end:
    a np.uint64-scalar inner loop both emits an overflow RuntimeWarning
    per multiply (fatal under ``-W error``) and pays numpy's per-call
    scalar setup per byte — the per-item-numpy antipattern (CLAUDE.md);
    the values are bit-identical either way (wrap-around mod 2^64)."""
    fnv, off, mask = 1099511628211, 14695981039346656037, (1 << 64) - 1
    out = []
    for w in text.lower().split():
        h = off
        for b in w.encode("utf-8"):
            h = ((h ^ b) * fnv) & mask
        out.append(h)
    return np.array(out, dtype=np.uint64)


def _ngram_hashes(text: str, n: int) -> np.ndarray:
    """Distinct polynomial hashes of all word n-grams (vectorized)."""
    wh = _word_hashes(text)
    if len(wh) < n:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        acc = np.zeros(len(wh) - n + 1, dtype=np.uint64)
        for j in range(n):
            acc = acc * _P + wh[j : len(wh) - n + 1 + j]
    return np.unique(acc)


def _ngram_udf(n: int):
    @F.pandas_udf(ArrayType(LongType()))
    def ngrams(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [_ngram_hashes(t or "", n).astype(np.int64) for t in texts]
        )

    return ngrams


def ngram_hash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, ngram_hash) pairs — one row per distinct n-gram per doc."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(_ngram_udf(NGRAM)(F.col(text_col))).alias("ngram_hash"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Flag every training doc (``doc_id``, ``text``) sharing >= 1 word
    13-gram with the ``text`` of the benchmark. Returns ``docs`` +
    ``is_contaminated``; keep the clean set with
    ``.filter(~F.col("is_contaminated"))``.

    The benchmark hash table is distinct-ed and broadcast (eval sets are
    thousands of docs, not billions) — the corpus side stays map-side."""
    bench_hashes = (
        benchmark.select(
            F.explode(_ngram_udf(NGRAM)(F.col("text"))).alias("ngram_hash")
        )
        .distinct()
    )
    hits = (
        ngram_hash_table(docs, "text", "doc_id")
        .join(F.broadcast(bench_hashes), "ngram_hash", "left_semi")
        .select(F.col("id").alias("_hit_id"))
        .distinct()
    )
    return docs.join(
        hits, docs["doc_id"] == hits["_hit_id"], "left"
    ).withColumn(
        "is_contaminated", F.col("_hit_id").isNotNull()
    ).drop("_hit_id")
