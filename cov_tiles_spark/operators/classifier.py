"""Distributed quality-classifier training + scoring: logistic
regression by batch gradient descent, the CCNet / GPT-3-style learned
quality filter for training corpora (reference scope: the corpus-prep
tier SURVEY.md §2.8 extends; no reference counterpart — cited as
additive).

Spark-first shape — the entire hot path stays JVM-side:

- **features** are plain ``Column`` expressions (whole-stage codegen);
- each GD iteration is ONE narrow aggregation: ``k+1`` ``avg(...)``
  expressions over the cached feature frame — map-side partial
  aggregation means the shuffle per iteration is ``k+1`` doubles per
  partition, independent of corpus size;
- the driver holds only the ``k+1`` weights between iterations (weights
  enter the next plan as literals — no broadcast needed at this size);
- **scoring** is a pure column expression over the same features.

No UDFs anywhere; at 100 TB the cost is ``iters`` scans of a narrow
cached projection (cache the feature frame — the raw text is never
re-read after the first pass).

Determinism note (gate contract): every per-row quantity is exact
integer counting or fixed float64 arithmetic; the only cross-engine
drift is summation order inside ``avg``, ~1e-15 relative per
aggregation, amplified over ``iters`` iterations to well below the
gate's rounding (see ``q_quality_classifier``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PUNCT = ",.;:!?"


def _count_chars(text: Column, chars: str) -> Column:
    """Exact count of occurrences of any char in ``chars`` (length-diff
    trick — SQL-portable, no regex dialect in play)."""
    out = None
    for ch in chars:
        c = F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))
        out = c if out is None else out + c
    return out


def _count_substr(text: Column, needle: str) -> Column:
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def quality_features(text: Column) -> dict[str, Column]:
    """Counting-only quality signals (every one an exact integer ratio;
    deliberately no trim/split so the python twin is unambiguous):

    - ``f_len``    : characters / 1000
    - ``f_punct``  : sentence-punctuation chars per character
    - ``f_space``  : spaces per character (word-density proxy)
    - ``f_stop``   : " the " occurrences per character (stopword-rate
      proxy; padded + lowercased so edges count)
    """
    n = F.greatest(F.length(text), F.lit(1)).cast("double")
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        "f_len": (F.length(text) / F.lit(1000.0)),
        "f_punct": _count_chars(text, PUNCT).cast("double") / n,
        "f_space": _count_substr(text, " ").cast("double") / n,
        "f_stop": _count_substr(padded, " the ").cast("double") / n,
    }


def logreg_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> dict:
    """Batch-GD logistic regression (25 steps, learning rate 0.5, L2
    1e-3); returns the model as plain floats:
    ``{"bias": b, "weights": [...], "means": [...], "stds": [...]}``.

    Features are standardized from a single stats aggregation
    (population std; constant features get std 1 so they contribute 0).
    The caller should ``.cache()`` ``df`` — every iteration scans it.
    """
    k = len(feature_cols)
    stats = df.select(
        *[F.avg(c).alias(f"m{i}") for i, c in enumerate(feature_cols)],
        *[F.stddev_pop(c).alias(f"s{i}") for i, c in enumerate(feature_cols)],
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    means = [float(stats[f"m{i}"]) for i in range(k)]
    # constant features: stddev_pop of a constant is float noise
    # (~1e-16), not exact 0 — epsilon-guard so they standardize to ~0
    # instead of exploding; the numpy twin applies the SAME rule
    stds = [
        s if (s := float(stats[f"s{i}"])) > 1e-12 else 1.0 for i in range(k)
    ]
    y = F.col(label_col).cast("double")

    std_feats = [
        (F.col(c) - F.lit(means[i])) / F.lit(stds[i])
        for i, c in enumerate(feature_cols)
    ]
    lr, l2 = 0.5, 1e-3
    bias, w = 0.0, [0.0] * k
    for _ in range(25):
        z = F.lit(bias)
        for i in range(k):
            z = z + F.lit(w[i]) * std_feats[i]
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - y
        row = df.select(
            F.avg(err).alias("g_b"),
            *[F.avg(err * std_feats[i]).alias(f"g{i}") for i in range(k)],
        ).collect()[0]
        bias -= lr * float(row["g_b"])
        for i in range(k):
            w[i] -= lr * (float(row[f"g{i}"]) + l2 * w[i])
    return {"bias": bias, "weights": w, "means": means, "stds": stds}


def logreg_score(model: dict, feature_cols: list[str]) -> Column:
    """Probability column for a trained model — pure expression."""
    z = F.lit(model["bias"])
    for i, c in enumerate(feature_cols):
        std = (F.col(c) - F.lit(model["means"][i])) / F.lit(model["stds"][i])
        z = z + F.lit(model["weights"][i]) * std
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
