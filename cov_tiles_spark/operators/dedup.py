"""Deduplication operators for training-data pipelines.

All candidate generation is shuffle-on-short-keys (hash buckets), never
all-pairs; verification is vectorized. Designed so the 100 TB side only
shuffles (id, signature) pairs — text/bytes stay columnar at rest.

- ``exact_dedup``      : md5(text) groupBy — the classic exact pass.
- ``minhash_near_dups``: shingle → 64-perm MinHash → banded LSH buckets →
                         bucket-join candidates → exact Jaccard verify.
- ``simhash_near_dups``: 64-bit SimHash → 4x16-bit band buckets (exact
                         recall for Hamming <= 3) → popcount verify.
- ``embedding_near_dups``: random-hyperplane LSH over embeddings →
                         bucket-join → exact cosine verify.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from cov_tiles_spark.operators.similarity import _dot_expr, _norm_expr

_MERSENNE = (1 << 61) - 1
_NUM_HASHES = 64  # MinHash permutations per signature
_SHINGLE = 5  # bytes per shingle

logger = logging.getLogger(__name__)


def _cap_buckets(
    buckets: DataFrame, keys: list[str], max_bucket_size: int | None, op: str
) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket_size`` members.

    One degenerate bucket (millions of empty/boilerplate docs sharing a
    signature) makes the bucket self-join quadratic at scale, so buckets
    over the cap are dropped — never silently: the count is logged and the
    dropped buckets are exactly the ones ``exact_dedup`` (identical text)
    already covers at hash-agg cost. The oversized-bucket list is tiny by
    construction (each surviving key represents > cap rows), so it is
    counted eagerly and broadcast into the anti-join.
    """
    if max_bucket_size is None:
        return buckets
    big = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select(*keys)
        .cache()
    )
    n_dropped = big.count()
    if n_dropped:
        logger.warning(
            "%s: dropped %d oversized LSH bucket(s) (> %d members); "
            "identical members are still caught by exact_dedup",
            op, n_dropped, max_bucket_size,
        )
    return buckets.join(F.broadcast(big), keys, "left_anti")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct text: keeper id (min), duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _ranges(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated (vectorized per-group arange)."""
    return np.arange(int(counts.sum())) - np.repeat(
        np.cumsum(counts) - counts, counts
    )


def _shingle_hashes(texts: pd.Series, shingle: int) -> tuple[np.ndarray, np.ndarray]:
    """(all_hashes, per_doc_counts): shingle hashes of every doc, whole
    batch vectorized — ONE rolling-hash pass over the concatenated
    bytes, windows crossing doc boundaries masked out by a gather.

    The old form paid ~8 small numpy calls per doc (the CLAUDE.md
    numpy-fixed-cost gotcha) plus a per-doc ``np.unique`` that MinHash
    never needed: min over a multiset equals min over its set, so
    duplicate shingles cannot change any signature component. Docs
    shorter than ``shingle`` keep their single 0 hash."""
    base = np.uint64(1099511628211)
    enc = [t.encode("utf-8") for t in texts]
    lengths = np.fromiter((len(e) for e in enc), np.int64, count=len(enc))
    B = np.frombuffer(b"".join(enc), dtype=np.uint8)
    win = B.shape[0] - shingle + 1
    if win > 0:
        with np.errstate(over="ignore"):
            h_all = np.zeros(win, dtype=np.uint64)
            for j in range(shingle):
                h_all = h_all * base + B[j : win + j].astype(np.uint64)
    else:
        h_all = np.zeros(0, dtype=np.uint64)
    counts = np.maximum(lengths - shingle + 1, 0)
    out_counts = np.where(lengths < shingle, 1, counts)
    all_h = np.zeros(int(out_counts.sum()), dtype=np.uint64)  # 0 = short-doc slot
    out_starts = np.cumsum(out_counts) - out_counts
    doc_starts = np.cumsum(lengths) - lengths
    valid = counts > 0
    if valid.any():
        reps = counts[valid]
        r = _ranges(reps)
        all_h[np.repeat(out_starts[valid], reps) + r] = h_all[
            np.repeat(doc_starts[valid], reps) + r
        ]
    return all_h, out_counts


def _minhash_udf():
    rng = np.random.default_rng(42)
    a = rng.integers(1, _MERSENNE, _NUM_HASHES, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, _NUM_HASHES, dtype=np.int64).astype(np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        # whole-batch vectorization: one rolling-hash pass over the
        # concatenated docs, apply each permutation once, segment-min
        # via minimum.reduceat
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        all_h, lengths = _shingle_hashes(texts, _SHINGLE)
        starts = np.cumsum(lengths) - lengths
        sig = np.empty((len(lengths), _NUM_HASHES), dtype=np.int64)
        with np.errstate(over="ignore"):
            for p in range(_NUM_HASHES):
                vals = (a[p] * all_h + b[p]) % np.uint64(_MERSENNE)
                sig[:, p] = np.minimum.reduceat(vals, starts).astype(np.int64)
        return pd.Series(list(sig))

    return minhash


def _band_shape(threshold: float) -> tuple[int, int]:
    """Pick (bands, rows) so the LSH S-curve knee sits near ``threshold``:
    match probability = 1 - (1 - t^rows)^bands. Wider rows at high
    thresholds slash false candidates (t=0.4 noise passes a 4-row band
    with p=2.6% but an 8-row band with p=0.07%)."""
    if threshold >= 0.85:
        rows = 8
    elif threshold >= 0.55:
        rows = 4
    else:
        rows = 2
    return _NUM_HASHES // rows, rows


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with estimated Jaccard >= threshold.

    Jaccard estimate = fraction of matching MinHash components (unbiased);
    the banded LSH keeps candidate generation sub-quadratic. Candidates
    travel as id pairs only (the 64-long signatures rejoin once after
    pair dedup — shuffling them through the band join multiplies shuffle
    bytes by bands x sig size). Buckets over ``max_bucket_size`` are
    dropped with a logged count (see ``_cap_buckets``) so one degenerate
    signature can't go quadratic.
    """
    bands, rows_per_band = _band_shape(threshold)
    mh = _minhash_udf()
    # pin the signature stage's parallelism (CLAUDE.md): the input is
    # typically 1-2 scan partitions (single parquet row group), which
    # serializes the Python-CPU-bound MinHash UDF onto 1-2 workers
    # (measured 10.9s -> 1.5s at sf1 on local[32]). Keyed repartition:
    # deterministic under task retry, no sort-before-repartition pass.
    par = df.sparkSession.sparkContext.defaultParallelism
    sigs = df.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("id"), mh(F.col(text_col)).alias("sig")
    ).cache()

    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(
                *[F.col("sig")[j] for j in range(i * rows_per_band, (i + 1) * rows_per_band)]
            ).alias("bucket"),
        )
        for i in range(bands)
    ]
    buckets = sigs.select("id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )
    buckets = _cap_buckets(buckets, ["band", "bucket"], max_bucket_size, "minhash")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = (
        cand.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(_NUM_HASHES))
    return (
        cand.withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


@F.pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens.

    Whole-batch vectorization: tokens across all docs are factorized so
    each *unique* token is FNV-hashed once; per-doc bit sums are a
    single ``add.reduceat`` over the expanded bit matrix.
    """
    tok_lists = [t.split() for t in texts]
    lengths = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
    out = np.zeros(len(texts), dtype=np.int64)
    nonempty = lengths > 0
    if not nonempty.any():
        return pd.Series(out)
    flat = [tok for ts in tok_lists for tok in ts]
    codes, uniques = pd.factorize(pd.Series(flat, dtype=object))
    uh = np.array([hash_token(t) for t in uniques], dtype=np.uint64)
    bits_u = (
        (uh[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    ).astype(np.int64) * 2 - 1  # (+1/-1) per unique token per bit
    tok_bits = bits_u[codes]  # (total_tokens, 64)
    starts = (np.cumsum(lengths) - lengths)[nonempty]
    sums = np.add.reduceat(tok_bits, starts, axis=0)  # (n_nonempty, 64)
    words = np.zeros(sums.shape[0], dtype=np.uint64)
    pos = sums > 0
    for j in range(64):
        words |= pos[:, j].astype(np.uint64) << np.uint64(j)
    out[nonempty] = words.view(np.int64)
    return pd.Series(out)


def hash_token(tok: str) -> int:
    """FNV-1a 64 of a token (deterministic across workers, unlike hash())."""
    h = 0xCBF29CE484222325
    for c in tok.encode("utf-8"):
        h = ((h ^ c) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= max_hamming.

    Computes the 64-bit SimHash of ``text_col`` and delegates to
    :func:`hamming_near_dups` — see there for the banded
    distinct-signature join semantics.
    """
    # same parallelism pin as minhash_near_dups: the SimHash UDF is
    # Python-CPU-bound and must not run on 1-2 scan partitions
    par = df.sparkSession.sparkContext.defaultParallelism
    sigs = df.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("_id"), simhash64(F.col(text_col)).alias("_sig")
    )
    return hamming_near_dups(
        sigs, "_sig", "_id",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
        op="simhash",
    )


def hamming_near_dups(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 1024,
    op: str = "hamming",
) -> DataFrame:
    """Pairs of ids whose 64-bit ``hash_col`` values are within
    ``max_hamming`` Hamming distance — the core of SimHash text dedup
    and perceptual-hash (phash) image dedup alike.

    Band trick: split 64 bits into (max_hamming + 1) bands; any pair
    within the budget must agree exactly on >= 1 band (pigeonhole) —
    exact recall, sub-quadratic candidates.

    The banded join runs over DISTINCT signatures, not rows: at web
    scale the degenerate buckets are boilerplate/template content, i.e.
    thousands of rows sharing one signature — collapsing to the
    signature level shrinks those buckets by the duplication factor
    before any quadratic step (measured sf1: max doc-level bucket 3994
    vs max distinct-sig bucket 669). Signature pairs that survive the
    Hamming filter are expanded back to id pairs with two hash joins
    (output-sized — no candidate blowup), and identical-signature id
    pairs (hamming 0) are emitted separately, so identical content can
    never be lost to a bucket drop. The ``max_bucket_size`` cap
    therefore applies to distinct-signature buckets only; an over-cap
    bucket is dropped with a logged count and costs only
    cross-signature recall in that band.

    Every pair within an identical-signature group is listed — the
    brute-force-oracle contract, inherently quadratic in the group size.
    """
    n_bands = max_hamming + 1
    width = 64 // n_bands
    sh = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("sh")
    ).cache()
    sig_tbl = sh.groupBy("sh").agg(F.count("*").alias("n_ids"))

    def band_val(i):
        v = F.shiftrightunsigned(F.col("sh"), i * width)
        if width < 64:  # width=64 needs no mask (and 2^64-1 overflows lit)
            v = v.bitwiseAND(F.lit((1 << width) - 1))
        return v

    bands = [
        F.struct(F.lit(i).alias("band"), band_val(i).alias("bucket"))
        for i in range(n_bands)
    ]
    buckets = sig_tbl.select("sh", F.explode(F.array(*bands)).alias("bb")).select(
        "sh", "bb.band", "bb.bucket"
    )
    buckets = _cap_buckets(buckets, ["band", "bucket"], max_bucket_size, op)
    a = buckets.select(F.col("sh").alias("sh_a"), "band", "bucket")
    b = buckets.select(F.col("sh").alias("sh_b"), "band", "bucket")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    sig_pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b")
        .dropDuplicates(["sh_a", "sh_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        sig_pairs.join(
            sh.select(F.col("sh").alias("sh_a"), F.col("id").alias("ida")), "sh_a"
        )
        .join(
            sh.select(F.col("sh").alias("sh_b"), F.col("id").alias("idb")), "sh_b"
        )
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            "hamming",
        )
    )
    multi = sh.join(
        sig_tbl.filter(F.col("n_ids") >= 2).select("sh"), "sh", "left_semi"
    )
    x, y = multi.alias("x"), multi.alias("y")
    intra = (
        x.join(y, "sh")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionAll(intra)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Cosine near-duplicate pairs via random-hyperplane LSH + exact verify.

    Candidates travel as (id_a, id_b) only — the full vectors rejoin once
    for the exact-cosine verify (same shuffle discipline as
    ``minhash_near_dups``: shipping vectors through the bucket self-join
    multiplies shuffle bytes by the bucket fan-out). Oversized buckets are
    dropped with a logged count.
    """
    rng = np.random.default_rng(42)
    planes = rng.normal(size=(16, dim)).astype(np.float64)

    @F.pandas_udf(LongType())
    def signature(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        bits = (m @ planes.T) > 0
        packed = np.packbits(bits, axis=1, bitorder="little")
        out = np.zeros(len(vecs), dtype=np.int64)
        for j in range(packed.shape[1]):
            out |= packed[:, j].astype(np.int64) << (8 * j)
        return pd.Series(out)

    sig = df.select(
        F.col(id_col).alias("id"), signature(F.col(vec_col)).alias("sig")
    ).cache()
    buckets = _cap_buckets(sig, ["sig"], max_bucket_size, "embedding_lsh")
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, "sig")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    cand = (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
    )
    cos = _dot_expr("vec_a", "vec_b") / (
        _norm_expr(F.col("vec_a")) * _norm_expr(F.col("vec_b"))
    )
    return (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_block_size: int | None = None,
    vocab_limit: int = 4096,
) -> DataFrame:
    """Exact n-gram Jaccard over hash-blocked candidates.

    Blocking key = md5 of the first n-gram (cheap, deterministic) — an
    intentionally simple blocker; MinHash above is the scale path.

    Round-6 rewrite (same output, bit-for-bit): the naive within-block
    self-join compared every DOC pair with a per-pair string
    ``array_intersect`` — O(B^2) in block size, 4,925 s at sf1. Now:

    1. **Distinct gram-set classes**: docs are grouped by (block, grams)
       so each distinct gram set is verified once; identical-set pairs
       (jaccard exactly 1.0, the planted-copy mass) are expanded without
       any set math. Quadratic cost drops from docs^2 to classes^2.
    2. **Exact size prefilter**: jaccard >= t implies
       min(|A|,|B|) >= t * max(|A|,|B|) (|A ∩ B| <= min and
       >= t*|A ∪ B| >= t*max), evaluated inside the join condition (a
       1e-9 slack keeps the float comparison a strict superset).
    3. **Bitset verify**: when the corpus' distinct-gram vocabulary fits
       ``vocab_limit``, each class's gram set becomes a fixed-width
       bitmask over the global gram dictionary and |A ∩ B| is a codegen
       sum of ``bit_count(wa & wb)`` words — no hashing, no collisions,
       ~100x cheaper than per-pair array_intersect. Larger vocabularies
       fall back to class-level ``array_intersect`` (still wins via 1+2).

    ``max_block_size`` (production knob, default off — it CHANGES the
    result): blocks with more docs than the cap are dropped with a
    logged count, the `_cap_buckets` discipline — one planet-hot prefix
    cannot go quadratic; identical members are still caught by
    exact_dedup.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
            f" i -> substring({text_col}, i, {n})))"
        ).alias("grams"),
        F.md5(F.substring(text_col, 1, n)).alias("block"),
    )
    if max_block_size is not None:
        base = _cap_buckets(base, ["block"], max_block_size, "ngram_jaccard")
    # pin the class build + verify join parallelism (CLAUDE.md): the
    # per-pair evaluation is CPU-bound on tiny bytes, AQE's byte-based
    # coalescing would serialize it
    classes = (
        base.repartition(par, "block")
        .groupBy("block", "grams")
        .agg(F.collect_list("id").alias("ids"))
        .withColumn("min_id", F.array_min("ids"))
        .withColumn("sz", F.size("grams"))
        .cache()
    )
    thr = float(threshold)

    # identical gram sets: every doc pair inside a class has jaccard
    # exactly 1.0 (what array_intersect of equal sets computed before)
    within = (
        classes.filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), b -> "
                    "struct(least(a, b) as id_a, greatest(a, b) as id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b", F.lit(1.0).alias("jaccard"))
        .filter(F.lit(1.0) >= F.lit(thr))
    )

    # global gram dictionary (bounded collect: vocab_limit + 1 rows max)
    vocab = [
        r[0]
        for r in classes.select(F.explode("grams").alias("g"))
        .distinct()
        .limit(vocab_limit + 1)
        .collect()
    ]
    if len(vocab) <= vocab_limit:
        vmap = {g: i for i, g in enumerate(sorted(vocab))}
        n_words = (len(vmap) + 63) // 64

        @F.pandas_udf(ArrayType(LongType()))
        def to_mask(grams_s: pd.Series) -> pd.Series:
            lengths = np.fromiter(
                (len(x) for x in grams_s), dtype=np.int64, count=len(grams_s)
            )
            flat = [g for lst in grams_s for g in lst]
            codes = (
                pd.Series(flat, dtype=object).map(vmap).to_numpy(np.uint64)
            )
            rows = np.repeat(np.arange(len(grams_s)), lengths)
            masks = np.zeros((len(grams_s), n_words), dtype=np.uint64)
            np.bitwise_or.at(
                masks,
                (rows, (codes >> np.uint64(6)).astype(np.int64)),
                np.uint64(1) << (codes & np.uint64(63)),
            )
            return pd.Series(list(masks.view(np.int64)))

        rep = classes.withColumn("mask", to_mask("grams")).select(
            "block",
            "min_id",
            "sz",
            "ids",
            *[F.col("mask")[i].alias(f"w{i}") for i in range(n_words)],
        )
        inter = sum(
            F.bit_count(
                F.col(f"a.w{i}").bitwiseAND(F.col(f"b.w{i}"))
            ).cast("long")
            for i in range(n_words)
        )
    else:
        rep = classes.select("block", "min_id", "sz", "ids", "grams")
        inter = F.size(F.array_intersect("a.grams", "b.grams")).cast("long")

    # pin the verify join's width too: `rep` rows are tiny (a few
    # bitset words per class), so AQE's byte-based coalescing would
    # narrow the block-equi self-join whose ON clause carries the
    # CPU-bound bit_count/array_intersect pair evaluation (CLAUDE.md);
    # both aliases share the one pinned exchange
    rep = rep.repartition(par, "block")
    a, b = rep.alias("a"), rep.alias("b")
    cond = (
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.min_id") < F.col("b.min_id"))
        & (
            F.least("a.sz", "b.sz")
            >= F.lit(thr) * F.greatest("a.sz", "b.sz") - F.lit(1e-9)
        )
    )
    jac = inter / (F.col("a.sz") + F.col("b.sz") - inter).cast("double")
    cross = (
        a.join(b, cond)
        .select(
            F.col("a.ids").alias("ids_a"),
            F.col("b.ids").alias("ids_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= thr)
        .select(F.explode("ids_a").alias("id_x"), "ids_b", "jaccard")
        .select("id_x", F.explode("ids_b").alias("id_y"), "jaccard")
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            "jaccard",
        )
    )
    return within.unionAll(cross)
