"""Focused tests for the round-6 ngram_jaccard_pairs rewrite.

The operator's class/bitset internals changed (distinct gram-set
classes, exact size prefilter, bitset verify); these tests pin
bit-for-bit equivalence against a brute-force scalar oracle on corpora
that exercise every branch: identical texts (within-class expansion),
same gram SET in different order, near-threshold jaccard values, docs
shorter than n, and the low-vocab bitset vs large-vocab array_intersect
fallback. Plus the production max_block_size cap (result-changing,
default OFF) with its logged drop.
"""

from __future__ import annotations

import itertools
import logging

import pytest
from pyspark.sql import functions as F

from cov_tiles_spark.operators.dedup import ngram_jaccard_pairs


def _brute(rows, n=3, threshold=0.5):
    """Scalar reference: block on first n-gram, all-pairs exact Jaccard."""
    docs = {i: t for i, t in rows}
    grams = {
        i: set(t[j : j + n] for j in range(max(len(t) - n + 1, 1)))
        for i, t in rows
    }
    out = set()
    for a, b in itertools.combinations(sorted(docs), 2):
        if docs[a][:n] != docs[b][:n]:
            continue
        A, B = grams[a], grams[b]
        inter = len(A & B)
        jac = inter / (len(A) + len(B) - inter)
        if jac >= threshold:
            out.add((a, b, round(jac, 9)))
    return out


def _corpus():
    # word-soup docs over a small vocabulary; every 3rd doc has an exact
    # copy (id+1000), doc 7 is a reordered-words twin of doc 1 (same
    # gram set likely differs -> exercises near-threshold), docs 50/51
    # are shorter than n
    words = ["alpha", "beta", "gamma", "delta", "tile", "scan", "sort"]
    rows = []
    for i in range(40):
        toks = [words[(i * 3 + j * 5) % len(words)] for j in range(6 + i % 5)]
        rows.append((i, " ".join(toks)))
    rows += [(i + 1000, t) for i, t in rows if i % 3 == 0]
    rows += [(50, "ab"), (51, "ab"), (52, "x")]
    return rows


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.9, 1.0])
def test_matches_bruteforce(spark, threshold):
    rows = _corpus()
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=threshold
        ).collect()
    }
    assert got == _brute(rows, n=3, threshold=threshold)


def test_matches_bruteforce_large_vocab_fallback(spark):
    """vocab_limit=4 forces the array_intersect fallback path; output
    must be identical to the bitset path and the scalar oracle."""
    rows = _corpus()
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.5, vocab_limit=4
        ).collect()
    }
    assert got == _brute(rows, n=3, threshold=0.5)


def test_max_block_size_caps_hot_block_with_log(spark, caplog):
    # one hot prefix ("hot...") with 12 members, one small block with 2
    rows = [(i, f"hot shared prefix text {i % 2}") for i in range(12)]
    rows += [(100, "cold pair text"), (101, "cold pair text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with caplog.at_level(logging.WARNING, logger="cov_tiles_spark.operators.dedup"):
        capped = ngram_jaccard_pairs(
            df, "text", "doc_id", threshold=0.5, max_block_size=8
        ).collect()
    # the hot block is dropped entirely (logged), the small block survives
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}
    assert any("ngram_jaccard" in r.message for r in caplog.records)
    # default (no cap) keeps the hot-block pairs
    full = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert len(full) > 1
