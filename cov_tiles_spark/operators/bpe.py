"""Distributed BPE tokenizer training — the missing piece between the
token-counting operators (`operators/text.py`) and a real training-data
pipeline: the vocabulary itself is learned from the corpus.

Algorithm (Sennrich et al. 2016, public): start from characters, then
repeatedly merge the most frequent adjacent symbol pair. The classic
distributed shape (also how Hugging Face tokenizers trains):

1. ONE corpus-scale pass builds the distinct-word count table
   (``word_counts`` — hash aggregation, map-side combined); the corpus
   is never touched again.
2. Every merge iteration runs over the *vocabulary-sized* table
   (distinct words, not corpus rows): pair counts via a JVM-side
   explode + sum, the argmax pair collected to the driver (one row),
   and the merge applied with a vectorized pandas UDF.

At 100 TB the corpus pass dominates and is embarrassingly parallel;
iterations touch ~1e6-1e8 distinct words — cacheable, with
``localCheckpoint`` truncating the iterative lineage every few rounds
(the iterative-DataFrame trap; see `operators/cluster.py`).

Determinism: ties break (freq DESC, left ASC, right ASC), so the merge
sequence is a pure function of the corpus — the driver gate pins it
against an independent pure-python implementation
(`scripts/build_oracles.py`).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# truncate every other round: between checkpoints the pair-count pass
# re-executes every chained merge UDF since the last one (lazy
# lineage), so sparse checkpoints cost O(window^2/2) UDF re-runs —
# measured 20.7s (every 8) vs 12.3s (every 2) for 40 merges at sf0.1
_CHECKPOINT_EVERY = 2


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over lowercased whitespace tokens — the one
    corpus-scale pass.

    ASCII/BMP scope (documented, matching scripts/build_oracles.py's
    pure-python twin): Java-regex ``\\s+`` matches only ASCII
    whitespace while python ``str.split()`` splits on all Unicode
    whitespace, and ``F.split(word, '')`` splits UTF-16 surrogate
    pairs (astral-plane code points, e.g. emoji) into lone surrogates
    where ``list(w)`` keeps one code point. The gate corpus and the
    intended tokenizer input are ASCII; feed non-BMP corpora through a
    normalizing pre-pass if that ever changes."""
    return (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _merge_udf(left: str, right: str):
    merged = left + right

    @F.pandas_udf("array<string>")
    def apply_merge(syms: pd.Series) -> pd.Series:
        out = []
        for s in syms:
            s = list(s)
            if left not in s:  # fast path: most words lack the pair
                out.append(s)
                continue
            res, i, n = [], 0, len(s)
            while i < n:
                if i + 1 < n and s[i] == left and s[i + 1] == right:
                    res.append(merged)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return apply_merge


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 40,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, freq)] in
    merge order. Stops early when no pair occurs twice."""
    wc = word_counts(docs, text_col).withColumn(
        # seed symbols = characters (split on the empty pattern yields
        # the character array in both Spark and Python)
        "syms",
        F.split("word", ""),
    ).select("syms", "n").localCheckpoint(eager=True)

    merges: list[tuple[str, str, int]] = []
    for it in range(n_merges):
        pair_counts = (
            # single-symbol words carry no pairs — and sequence(1, 0)
            # is DESCENDING in Spark, not empty, so they must be
            # filtered before the transform (ANSI element_at would
            # throw on the out-of-range index)
            wc.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) as l, "
                        "element_at(syms, i + 1) as r))"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("freq"))
        )
        top = pair_counts.orderBy(
            F.col("freq").desc(), F.col("l"), F.col("r")
        ).limit(1).collect()
        if not top or top[0]["freq"] < 2:
            break
        left, right, freq = top[0]["l"], top[0]["r"], int(top[0]["freq"])
        merges.append((left, right, freq))
        wc = wc.withColumn("syms", _merge_udf(left, right)(F.col("syms")))
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            wc = wc.localCheckpoint(eager=True)
    return merges


def _bpe_word_greedy(word: str, ranks: dict) -> list[str]:
    """Tokenize one word: repeatedly merge the lowest-rank adjacent
    pair (GPT-2-style apply). Cost is independent of the merge-table
    size — the property that matters when the table has 50k merges and
    the vocabulary 1e8 words — unlike sequential replay, which scans
    every word once per merge.

    For a TRAINED table this equals sequential replay (the oracle's
    semantics): when greedy reaches rank k no pair of rank < k remains
    (it would have been chosen first), and merging rank k cannot create
    a pair of rank j < k because merge j's parts both existed at
    training step j while rank k's output symbol did not — pinned by
    tests/test_bpe.py's hypothesis property."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best = (syms[i], syms[i + 1])
        if best is None:
            break
        left, right = best
        merged = left + right
        res, i, n = [], 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                res.append(merged)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def bpe_tokenize_words(
    words: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """VOCABULARY-sized tokenization: adds ``tokens array<string>`` to a
    distinct-``word`` table. The merge table rides in the UDF closure (a
    50k-merge table is ~1 MB — broadcast-scale); per-word work is the
    greedy lowest-rank loop, so the stage is embarrassingly parallel
    with no shuffle."""
    ranks = {(l, r): i for i, (l, r) in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def tok(col: pd.Series) -> pd.Series:
        return pd.Series([_bpe_word_greedy(w, ranks) for w in col])

    return words.withColumn("tokens", tok(F.col("word")))


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Corpus tokenization with a learned merge table →
    (doc_id, n_tokens, n_distinct_tokens); docs with no words keep 0s.

    100 TB shape: the expensive per-word merge loop runs once per
    DISTINCT word (``bpe_tokenize_words`` over the word_counts-style
    distinct table), then a plain equi-join fans tokens back onto the
    exploded corpus — Catalyst/AQE broadcasts the vocab side when it
    fits, and the final per-doc rollup is one hash aggregation."""
    doc_words = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("word"),
    ).filter(F.col("word") != "")
    vocab = bpe_tokenize_words(doc_words.select("word").distinct(), merges)
    per_doc = (
        doc_words.join(vocab, "word")
        .select("doc_id", F.explode("tokens").alias("token"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("token").alias("n_distinct_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct_tokens", F.lit(0)).alias(
                "n_distinct_tokens"
            ),
        )
    )


def bpe_merges_df(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 40,
) -> DataFrame:
    """(rank, left, right, freq) DataFrame view of :func:`bpe_train` —
    the gate-friendly shape."""
    merges = bpe_train(docs, text_col, n_merges)
    return docs.sparkSession.createDataFrame(
        [(i + 1, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "rank int, left string, right string, freq bigint",
    )
