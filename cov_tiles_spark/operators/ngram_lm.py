"""N-gram language-model perplexity filtering (CCNet-style).

The model-based quality gate used by CCNet (Wenzek et al. 2020) and its
descendants (RedPajama, FineWeb): score every document under a small
n-gram LM trained on trusted text and drop the high-perplexity tail.
The reference stacks run a KenLM binary per worker; the Spark-native
re-expression keeps both halves relational:

- **train** (``ngram_lm_counts``): bigram + unigram counts are two hash
  aggregations over the exploded token stream — map-side combined, one
  shuffle each, keyed on short strings.  The "model" is just two
  DataFrames, so it scales past driver memory (KenLM must fit in RAM on
  every worker; a count table can stay distributed).
- **score** (``lm_score``): documents explode into (context, token)
  pairs JVM-side (``F.transform`` over the split array — no Python),
  join against the count tables (broadcast when the model is small,
  shuffle-hash otherwise — Catalyst/AQE picks), then one groupBy(doc)
  reassembles log-prob, perplexity and an OOV count.  Stupid backoff
  (Brants et al. 2007): p(w|c) = c(c,w)/c(c), else alpha * p(w), else
  alpha * eps — no discounting state, so scoring is a pure join.

Everything is ``F.*`` expressions (zero Python rows), so the gate twin
(q_lm_filter) recomputes train AND score end-to-end in DuckDB SQL.

``importance_weights`` composes two such LMs into DSIR-style data
selection (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"): log w(x) = log p_target(x) - log p_raw(x).
DSIR uses hashed-ngram features; with exact bigram counts the estimator
is the same likelihood ratio without hash-bucket collisions (documented
divergence — collisions only blur DSIR's estimate, they are not a
semantic feature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ALPHA = 0.4  # stupid-backoff discount
EPS = 1e-10  # floor probability for OOV tokens


def _token_pairs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, ctx, tok) for every adjacent token pair, JVM-side."""
    # zip_with over offset slices (NOT sequence(1, size-1): under ANSI
    # mode a 1-token doc makes that sequence DESCEND to [1, 0] and
    # element_at(toks, 2) throws; slices of length size-1 = 0 are empty)
    toks = F.split(F.col(text_col), " ")
    n1 = F.greatest(F.lit(0), F.size(toks) - 1)
    pairs = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.struct(a.alias("ctx"), b.alias("tok")),
    )
    return df.select(
        F.col(id_col), F.posexplode(pairs).alias("pos", "p")
    ).select(id_col, "pos", "p.ctx", "p.tok")


def ngram_lm_counts(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame, int]:
    """Train a bigram stupid-backoff LM: returns (bigram counts
    (ctx, tok, c2), unigram counts (tok, c1), total token count).

    The total is a single scalar (one count action); both count tables
    stay distributed.
    """
    pairs = _token_pairs(df, text_col, id_col)
    bigrams = pairs.groupBy("ctx", "tok").agg(F.count("*").alias("c2"))
    unigrams = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1"))
    )
    total = unigrams.agg(F.sum("c1")).collect()[0][0]
    return bigrams, unigrams, int(total)


def lm_score(
    df: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    total_tokens: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-document stupid-backoff log10-prob and perplexity.

    Scores the n-1 = size-1 adjacent pairs of each document; documents
    with fewer than 2 tokens get logprob 0 / perplexity 1.  Returns
    (id, n_scored, n_oov, logprob, ppl) with logprob = sum log10 p and
    ppl = 10^(-logprob / n_scored).

    Both count tables are broadcast (the CCNet regime: a fixed
    trusted-domain model, MBs), so the corpus is scored map-side.
    """
    big = bigrams.withColumnRenamed("c2", "_c2")
    uni_ctx = unigrams.select(
        F.col("tok").alias("ctx"), F.col("c1").alias("_cctx")
    )
    uni_tok = unigrams.select("tok", F.col("c1").alias("_ctok"))

    pairs = _token_pairs(df, text_col, id_col)
    scored = (
        pairs.join(F.broadcast(big), ["ctx", "tok"], "left")
        .join(F.broadcast(uni_ctx), "ctx", "left")
        .join(F.broadcast(uni_tok), "tok", "left")
        .select(
            id_col,
            F.when(
                F.col("_c2").isNotNull(),
                F.log10(F.col("_c2") / F.col("_cctx")),
            )
            .when(
                F.col("_ctok").isNotNull(),
                F.log10(F.lit(ALPHA) * F.col("_ctok") / F.lit(float(total_tokens))),
            )
            .otherwise(F.log10(F.lit(ALPHA * EPS)))
            .alias("_lp"),
            F.col("_ctok").isNull().cast("long").alias("_oov"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_scored"),
        F.sum("_oov").alias("n_oov"),
        F.sum("_lp").alias("logprob"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_scored", F.lit(0)).alias("n_scored"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.coalesce("logprob", F.lit(0.0)).alias("logprob"),
            F.when(
                F.coalesce("n_scored", F.lit(0)) > 0,
                F.pow(F.lit(10.0), -F.col("logprob") / F.col("n_scored")),
            )
            .otherwise(F.lit(1.0))
            .alias("ppl"),
        )
    )


def importance_weights(
    df: DataFrame,
    target_model: tuple[DataFrame, DataFrame, int],
    raw_model: tuple[DataFrame, DataFrame, int],
    text_col: str,
    id_col: str,
) -> DataFrame:
    """DSIR importance weights: per-doc log10 w = log p_target - log p_raw.

    Each model is an ``ngram_lm_counts`` result.  Returns (id, n_scored,
    log_w, log_w_norm) where log_w_norm = log_w / n_scored (0.0 for
    docs with no pairs) is the length-independent per-token ratio used
    for thresholding.  The corpus is scored twice (two join passes);
    ``lm_score`` broadcasts the models, so both passes are map-side and
    the whole operator stays shuffle-free on the corpus in the DSIR
    regime (small trusted target model, raw model from a sample).
    """
    t = lm_score(df, *target_model, text_col, id_col).select(
        id_col, "n_scored", F.col("logprob").alias("_lp_t")
    )
    r = lm_score(df, *raw_model, text_col, id_col).select(
        id_col, F.col("logprob").alias("_lp_r")
    )
    return t.join(r, id_col).select(
        id_col,
        "n_scored",
        (F.col("_lp_t") - F.col("_lp_r")).alias("log_w"),
        F.when(
            F.col("n_scored") > 0,
            (F.col("_lp_t") - F.col("_lp_r")) / F.col("n_scored"),
        )
        .otherwise(F.lit(0.0))
        .alias("log_w_norm"),
    )
