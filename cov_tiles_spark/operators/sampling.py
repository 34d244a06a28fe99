"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus is never trained on whole: pipelines need reproducible
Bernoulli samples (resumable runs must make identical in/out decisions
for every row across retries and re-runs), per-source stratified rates
(mixture weighting), and exact-k per-group samples (balanced eval sets).
Spark's ``df.sample`` is seed-dependent on partitioning and not
re-derivable per row, so these use an explicit multiplicative hash of a
key column instead — pure column arithmetic (whole-stage codegen, no
UDF, no shuffle for the Bernoulli forms) that any engine can replay
(the DuckDB oracle twins run the same integer formula).

Design notes for scale:
- `stratified_sample` is map-only: a filter on a hash of the key — no
  shuffle, no state; stratified rates ride a broadcast join (strata
  tables are small by definition).
- `sample_per_group` bounds the per-group window fan-in with a
  hash-threshold prefilter + provable fallback (same pattern as
  `spatial/knn.py`): a group only pays a full-group window if the
  prefilter provably under-collected it.
- All decisions are integer comparisons (hash < floor(rate * 2^31)) —
  no float-rounding drift between engines.

Related reference behavior: the evaluation harness samples tiles by
fixed lists (`IntegerCompressionEvaluation.java:44-63`); deterministic
hash sampling is the scale-out generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Multiplicative-xorshift hash over a 31-bit ring: every intermediate is
# < 2^31 * MIX < 2^63, so the arithmetic is exact in int64 on every
# engine (no overflow even under Spark's ANSI mode). Two multiply rounds
# with an xorshift between them make the hash non-affine in both key and
# seed: a plain `h = key*MIX + seed` would give every seed a rotation of
# the same ordering (99%+ overlap between same-rate samples at different
# seeds, measured), and the dividend-signed `%` of Spark/DuckDB would
# leak negative hashes for negative keys (kept at EVERY rate).
_MIX1 = 2654435761
_MIX2 = 2246822519
_RING = 1 << 31


def sample_hash(key: F.Column, seed: int = 0) -> F.Column:
    """Deterministic uniform hash of a bigint key onto [0, 2^31)."""
    x0 = ((key % _RING) + _RING) % _RING  # pmod: negatives map into the ring
    x = (x0 + F.lit((seed * 2_654_435_769 + 1) % _RING)) % _RING
    h1 = (x * _MIX1 + 1) % _RING
    h2 = h1.bitwiseXOR(F.shiftright(h1, 15))
    return (h2 * _MIX2) % _RING


def threshold(rate: float) -> int:
    """Integer acceptance threshold for a [0, 1] rate."""
    return int(rate * _RING)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli rates (mixture weighting): keep a row of
    stratum ``s`` iff ``hash(key) < floor(rates[s] * 2^31)``. The rate
    table rides a broadcast join, so the plan stays map-only."""
    spark = df.sparkSession
    rows = [(k, threshold(v)) for k, v in rates.items()]
    rdf = spark.createDataFrame(rows, f"{strata_col} string, _thresh long")
    return (
        df.join(F.broadcast(rdf), strata_col, "left")
        .withColumn(
            "_thresh", F.coalesce(F.col("_thresh"), F.lit(threshold(default_rate)))
        )
        .filter(sample_hash(F.col(key_col)) < F.col("_thresh"))
        .drop("_thresh")
    )


def sample_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    key_col: str,
    prefilter: bool = True,
) -> DataFrame:
    """Exactly ``min(k, |group|)`` rows per group, chosen uniformly
    without replacement (the k smallest key hashes — the distributed
    equivalent of a per-group reservoir), with a deterministic ``rank``.

    With ``prefilter`` (default), group sizes are aggregated once and
    rows are pre-filtered to ``hash < (8k+64)/n * 2^31`` before the
    window, so the per-group fan-in is ~8k+64 rows instead of ``n``.
    Exactness is provable per group: if the prefilter admitted >= k rows
    for a group, the k smallest hashes overall are among them (every
    excluded row has a larger hash than every admitted one); only
    under-collected groups (astronomically rare; probability
    ~exp(-Theta(k)) by a Chernoff bound) fall back to the full window.
    Either way the columns are ``df``'s, in order, then ``rank``.
    """
    h = sample_hash(F.col(key_col)).alias("_h")
    w = Window.partitionBy(*group_cols).orderBy(F.col("_h"), F.col(key_col))

    def ranked(rows: DataFrame) -> DataFrame:
        return (
            rows.withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") <= k)
            .withColumnRenamed("_rank", "rank")
        )

    out_cols = [*df.columns, "rank"]
    base = df.withColumn("_h", h)
    if not prefilter:
        return ranked(base).select(*out_cols)

    counts = df.groupBy(*group_cols).agg(F.count("*").alias("_n"))
    cut = (
        F.least(
            F.lit(_RING),
            (F.lit((8 * k + 64) * _RING) / F.col("_n")).cast("long"),
        )
    ).alias("_cut")
    pre = base.join(F.broadcast(counts.select(*group_cols, cut)), group_cols)
    # no cache: cand is consumed twice (completeness check + output) but
    # is deterministic (pure hash ordering), so recomputation is safe and
    # a library call never leaks cached partitions into the caller's
    # session
    cand = ranked(pre.filter(F.col("_h") < F.col("_cut")))
    # a group is proven complete if it yielded k rows OR the prefilter
    # kept the whole group (cut == 2^31 covers n <= 8k+64)
    complete = (
        cand.groupBy(*group_cols)
        .agg(F.count("*").alias("_got"), F.max("_cut").alias("_c"))
        .filter((F.col("_got") >= k) | (F.col("_c") >= _RING))
        .select(*group_cols)
    )
    good = cand.join(complete, group_cols, "left_semi").select(*out_cols)
    rest = base.join(complete, group_cols, "left_anti")
    return good.unionByName(ranked(rest).select(*out_cols))


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    key_col: str,
    default_weight: float = 0.0,
) -> DataFrame:
    """Domain-mixture sampling **with replacement**: a row of stratum
    ``s`` with weight ``w = weights[s]`` is emitted
    ``floor(w) + Bernoulli(frac(w))`` times — the standard
    epochs-per-domain mixing rule (a 2.5-weighted domain contributes
    every row twice plus a deterministic half of the rows a third
    time). Each copy carries an ``epoch`` column (0..n-1) so downstream
    shuffles / augmentations can rotate seeds per pass instead of
    emitting byte-identical repeats.

    ``stratified_sample`` is the ``w <= 1`` special case (no copies, no
    epoch column). Determinism: the fractional coin is the same
    portable hash as every other sampler here
    (``hash(key) < floor(frac(w) * 2^31)``), so the decision
    replays identically on every run, partitioning, and engine.

    Scale shape: weight table on a broadcast join, the copy fan-out is
    a map-side ``explode(sequence(...))`` — no shuffle at all; output
    size is exactly ``sum_s w_s * |s|`` in expectation, with the
    integer part exact.
    """
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative mixture weight for {s!r}: {w}")
    if default_weight < 0:
        raise ValueError(f"negative default_weight: {default_weight}")
    spark = df.sparkSession
    rows = [
        (s, int(w), threshold(w - int(w))) for s, w in weights.items()
    ]
    rdf = spark.createDataFrame(
        rows, f"{strata_col} string, _whole long, _fthresh long"
    )
    d_whole = int(default_weight)
    d_fthresh = threshold(default_weight - d_whole)
    n = F.col("_whole") + F.when(
        sample_hash(F.col(key_col)) < F.col("_fthresh"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(rdf), strata_col, "left")
        .withColumn("_whole", F.coalesce(F.col("_whole"), F.lit(d_whole)))
        .withColumn(
            "_fthresh", F.coalesce(F.col("_fthresh"), F.lit(d_fthresh))
        )
        .withColumn("_n", n)
        .filter(F.col("_n") > 0)
        # _n >= 1 here, so sequence(0, _n - 1) never descends (the ANSI
        # start>stop trap — CLAUDE.md gotcha — needs stop < start)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("_n") - 1)),
        )
        .drop("_whole", "_fthresh", "_n")
    )


def shuffle_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int,
) -> DataFrame:
    """Deterministic global shuffle for training export: order the
    corpus by a portable hash of the key and split it into ``n_shards``
    contiguous shards. Adds ``shard`` (int, 0..n_shards-1) and ``pos``
    (long, 0-based dense position within the shard); reading shards in
    id order and each shard in ``pos`` order replays one fixed uniform
    permutation of the corpus — re-derivable per row on any engine, so
    a resumed export writes byte-identical shards.

    ``shard = (hash * n_shards) >> 31`` — a multiply-shift on the TOP
    hash bits (the low bits of the multiplicative mix mis-distribute;
    measured 14% HLL bias — CLAUDE.md gotcha), so shard sizes are
    binomial-uniform. ``pos`` ranks by ``(hash, key)`` — a total order
    (key is unique), hence no tie ambiguity.

    Scale shape: the shard id is map-only column arithmetic; the
    within-shard rank is a hash-partitioned window — physically a
    repartition(shard) + per-partition sort, i.e. the classic
    distributed shuffle-export plan. There is NO global sort barrier:
    each shard sorts independently (|corpus| / n_shards rows), so the
    plan scales by raising n_shards with the corpus.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    h = sample_hash(F.col(key_col))
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(key_col))
    return (
        df.withColumn("_h", h)
        .withColumn(
            "shard",
            F.shiftright(F.col("_h") * F.lit(n_shards), 31).cast("int"),
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("_h")
    )


def plan_mixture(
    df: DataFrame,
    strata_col: str,
    token_col: str,
    target_props: dict[str, float],
    token_budget: int,
) -> DataFrame:
    """Static mixture planning: per-domain sampling weights (epoch
    counts for :func:`mixture_sample`) that hit a token budget at target
    proportions — the step that turns a mixing recipe (DoReMi / Pile
    style domain proportions) into executable per-row multiplicities.

    ``weight_s = budget * p_s / tokens_s`` where ``p_s`` is the
    stratum's share of ``sum(target_props.values())`` (so callers can
    pass unnormalized scores) and ``tokens_s`` the corpus's actual token
    count — in expectation, ``mixture_sample`` at these weights emits
    ``budget * p_s`` tokens of stratum ``s``. Strata absent from
    ``target_props`` get weight 0 (dropped by ``mixture_sample``);
    target strata absent from the corpus are simply not in the output —
    check ``n_strata`` if the recipe must be fully satisfiable.

    Scale shape: one partial-aggregated ``groupBy(strata_col)`` over the
    corpus (map-side combine, tiny result — strata counts are
    dictionary-sized) + a broadcast proportion table. Returns
    (``strata_col``, n_docs, tokens, target_prop, weight), weight
    rounded to 6 dp for engine portability.
    """
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive: {token_budget}")
    total_p = float(sum(target_props.values()))
    if total_p <= 0:
        raise ValueError("target_props must sum to a positive value")
    for s, p in target_props.items():
        if p < 0:
            raise ValueError(f"negative target proportion for {s!r}: {p}")
    spark = df.sparkSession
    pdf = spark.createDataFrame(
        [(s, p / total_p) for s, p in target_props.items()],
        f"{strata_col} string, target_prop double",
    )
    per = df.groupBy(strata_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("tokens"),
    )
    return (
        per.join(F.broadcast(pdf), strata_col, "left")
        .withColumn("target_prop", F.coalesce(F.col("target_prop"), F.lit(0.0)))
        .withColumn(
            "weight",
            F.round(
                F.lit(float(token_budget)) * F.col("target_prop")
                / F.col("tokens"),
                6,
            ),
        )
        # report the proportion at fixed dp: the float normalization sum
        # (e.g. 0.4+0.3+0.2+0.1 = 0.9999999999999999) otherwise leaks a
        # last-ulp difference vs an engine that skipped the division
        .withColumn("target_prop", F.round(F.col("target_prop"), 6))
        .orderBy(strata_col)
    )
