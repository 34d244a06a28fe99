"""Text analysis operators for training-data pipelines.

Every function here is pure ``pyspark.sql.functions`` (JVM, whole-stage
codegen) except the rolling-hash fingerprint (vectorized pandas UDF) — so
they survive a 100 TB scan without Python in the loop. Each has an exact
ANSI-SQL twin used by the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# tiny per-language stopword lists (deterministic, SQL-reproducible)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "es", "y"],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


# GPT-2-style pre-tokenizer pattern (the "BPE-ish regex"): contraction
# suffixes, then optional-space letter / number / other runs, then
# whitespace runs. Java regex dialect; \p{L} and \p{N} are Unicode
# categories, \s is the ASCII whitespace class.
BPE_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def token_count_bpe(text: Column) -> Column:
    """BPE-pre-tokenizer token count: non-overlapping matches of
    BPE_PATTERN, counted JVM-side (``regexp_count`` — whole-stage
    codegen, no Python). Approximates how a GPT-2-family tokenizer
    splits text before merges, which is the count that matters for
    training-data budgeting."""
    return F.regexp_count(text, F.lit(BPE_PATTERN)).cast("long")


def word_occurrences(text: Column, word: str) -> Column:
    """Occurrences of ``word`` as a whitespace-delimited token."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    needle = f" {word} "
    # (len(s) - len(replace(s, needle, ''))) / len(needle) — portable SQL
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def lang_id(text: Column) -> Column:
    """Heuristic language id: argmax of stopword hit counts, 'und' if none.

    Ties break in the fixed language order en > de > fr > es (CASE
    evaluation order — identical semantics in the SQL oracle).
    """
    scores = [
        (lang, sum_cols([word_occurrences(text, w) for w in words]))
        for lang, words in STOPWORDS.items()
    ]
    gmax = F.greatest(*[s for _, s in scores])
    expr = None
    for lang, score in scores:
        cond = (score > 0) & (score == gmax)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def sum_cols(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def quality_score(text: Column) -> Column:
    """Composite quality score in [0, 1]: length band + punct ratio +
    mean-word-length band. Pure arithmetic (SQL-portable)."""
    n = F.length(text).cast("double")
    toks = token_count(text).cast("double")
    punct = (
        F.length(text)
        - F.length(F.regexp_replace(text, r"[,.;:!?]", ""))
    ).cast("double")
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    mean_wl = F.when(toks > 0, n / toks).otherwise(F.lit(0.0))
    len_band = F.when((n >= 50) & (n <= 5000), F.lit(0.4)).otherwise(
        F.when(n > 0, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    wl_band = F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), F.lit(0.3)).otherwise(F.lit(0.1))
    punct_band = F.when(punct_ratio <= 0.1, F.lit(0.3)).otherwise(F.lit(0.1))
    return F.round(len_band + wl_band + punct_band, 4)


@F.pandas_udf(LongType())
def fingerprint64(texts: pd.Series) -> pd.Series:
    """Rolling polynomial hash (mod 2^64) of lowercased alnum text — a
    stable document fingerprint. Fully vectorized: h = Σ c_i · base^(n-1-i)
    with natural uint64 wraparound, computed as a dot product against a
    cumulative power table."""
    base = np.uint64(1099511628211)
    out = np.empty(len(texts), dtype=np.int64)
    with np.errstate(over="ignore"):
        for i, t in enumerate(texts):
            b = np.frombuffer(
                "".join(ch for ch in t.lower() if ch.isalnum()).encode("utf-8"),
                dtype=np.uint8,
            ).astype(np.uint64)
            n = b.shape[0]
            if n == 0:
                out[i] = 0
                continue
            pows = np.ones(n, dtype=np.uint64)
            np.cumprod(np.full(n - 1, base, dtype=np.uint64), out=pows[1:])
            out[i] = int((b * pows[::-1]).sum(dtype=np.uint64).view(np.int64))
    return pd.Series(out)


def _word_ngrams(words: Column, n: Column, k: int) -> Column:
    """Array of word k-grams (space-joined), empty when n < k.

    Built with JVM array lambdas — the guard matters: Spark's
    ``sequence(1, n-k+1)`` DESCENDS when the stop is below the start,
    which would fabricate grams for short docs."""
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + F.lit(j)) for j in range(k)]
        ),
    )
    return F.when(n >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def _dup_frac(arr: Column) -> Column:
    """1 - |distinct| / |all|, 0.0 for an empty array; rounded 6dp."""
    sz = F.size(arr)
    return F.round(
        F.when(
            sz > 0,
            F.lit(1.0) - F.size(F.array_distinct(arr)).cast("double") / sz,
        ).otherwise(F.lit(0.0)),
        6,
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Intra-document repetition signals (Gopher/C4-family quality
    filters): duplicate word / 2-gram / 5-gram fractions of each
    ``doc_id``'s ``text``.

    Entirely map-side — ``split`` + array lambdas + ``array_distinct``
    per row, ZERO shuffles — so at 100 TB this is a pure scan the
    optimizer pipelines into whatever consumes it. (The groupBy-explode
    formulation computes the same numbers with two corpus-scale
    shuffles; per-document state is bounded by doc length, so the
    array form is strictly better here.)"""
    # Stage the arrays as BOUND COLUMNS between selects. Passing the
    # raw `split(...)` expression into the gram builders embedded a copy
    # of the regex split inside every transform lambda / element_at, so
    # the split re-executed once per gram element (~350x per doc) —
    # measured 81s -> ~1s at sf0.1 for identical output. Still map-only:
    # chained narrow selects, no exchange (plan-pinned).
    t = F.trim(F.col("text"))
    words_e = F.split(t, r"\s+")
    staged = df.select("doc_id", t.alias("_t"), words_e.alias("_w"))
    n = F.when(F.length("_t") == 0, F.lit(0)).otherwise(F.size("_w"))
    staged = staged.select("doc_id", F.col("_w"), n.alias("_n"))
    words, nn = F.col("_w"), F.col("_n")
    staged = staged.select(
        "doc_id",
        "_n",
        F.when(nn > 0, words).otherwise(
            F.array().cast("array<string>")
        ).alias("_wa"),
        _word_ngrams(words, nn, 2).alias("_g2"),
        _word_ngrams(words, nn, 5).alias("_g5"),
    )
    return staged.select(
        "doc_id",
        F.col("_n").cast("long").alias("n_words"),
        _dup_frac(F.col("_wa")).alias("dup_word_frac"),
        _dup_frac(F.col("_g2")).alias("dup_2gram_frac"),
        _dup_frac(F.col("_g5")).alias("dup_5gram_frac"),
    )
