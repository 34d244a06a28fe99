"""Decontamination: planted benchmark n-grams must flag exactly the
docs that embed them."""

from __future__ import annotations

import numpy as np

from cov_tiles_spark.operators.decontam import (
    _ngram_hashes,
    decontaminate,
    ngram_hash_table,
)


def _doc(rng, n_words=60):
    return " ".join(f"w{rng.integers(0, 10000)}" for _ in range(n_words))


def test_planted_contamination_exact(spark):
    rng = np.random.default_rng(42)
    bench_q = " ".join(f"q{i}" for i in range(20))  # a 20-word eval item
    docs = []
    contaminated = set()
    for i in range(200):
        text = _doc(rng)
        if i % 17 == 0:  # embed the eval question mid-document
            words = text.split()
            text = " ".join(words[:30] + bench_q.split() + words[30:])
            contaminated.add(i)
        docs.append((i, text))
    docs_df = spark.createDataFrame(docs, "doc_id long, text string")
    bench_df = spark.createDataFrame(
        [(0, bench_q), (1, _doc(rng))], "bid long, text string"
    )
    out = {
        r.doc_id
        for r in decontaminate(docs_df, bench_df)
        .filter("is_contaminated")
        .collect()
    }
    assert out == contaminated  # no misses, no false flags


def test_short_docs_and_case_normalization(spark):
    docs_df = spark.createDataFrame(
        [(0, "too short to have a thirteen gram"),
         (1, " ".join(f"T{i}" for i in range(15)))],
        "doc_id long, text string",
    )
    # benchmark matches doc 1 modulo CASE — normalization must catch it
    bench_df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(15)))], "bid long, text string"
    )
    out = {
        r.doc_id: r.is_contaminated
        for r in decontaminate(docs_df, bench_df).collect()
    }
    assert out == {0: False, 1: True}


def test_ngram_kernel_matches_scalar():
    text = "a b c d e f g h i j k l m n o p"
    got = set(_ngram_hashes(text, 13).tolist())
    # scalar: hash each 13-gram independently
    words = text.split()
    P, FNV, OFF = 1000000007, 1099511628211, 14695981039346656037
    M = 1 << 64

    def wh(w):
        h = OFF
        for b in w.encode():
            h = ((h ^ b) * FNV) % M
        return h

    want = set()
    for s in range(len(words) - 12):
        acc = 0
        for w in words[s : s + 13]:
            acc = (acc * P + wh(w)) % M
        want.add(acc)
    assert got == want


def test_hash_table_shape(spark):
    docs_df = spark.createDataFrame(
        [(7, " ".join(f"x{i}" for i in range(20)))], "doc_id long, text string"
    )
    rows = ngram_hash_table(docs_df, "text", "doc_id").collect()
    assert len(rows) == 8  # 20 - 13 + 1 distinct n-grams
    assert all(r.id == 7 for r in rows)
