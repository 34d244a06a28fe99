"""Bloom-filter semi-join pruning: shrink the BIG side of a join before
it shuffles.

At 100 TB the dominant join cost is shuffling the fact side; when the
join is selective (most fact rows match nothing), a Bloom filter built
from the small side and broadcast as a bitmap lets every fact partition
drop non-matching rows *map-side*, before the exchange. Spark's own
runtime row-group filtering covers some of this for parquet scans; this
operator makes the pattern explicit, engine-portable, and usable on any
DataFrame (including mid-pipeline ones no scan-level filter can reach).

Correctness is unconditional: a Bloom filter has false positives but no
false negatives, and the survivors still go through the exact semi-join,
so the result equals the plain semi-join row-for-row (the DuckDB twin in
the driver gate is literally `WHERE key IN (...)`).

Portability: bit positions come from the engine-portable integer hash in
``operators/sampling.py`` (plain column arithmetic, whole-stage codegen)
— the only Python in the plan is the Arrow-batched membership gather
against the broadcast bitmap (one numpy fancy-index per hash, per
batch).

Scale shape: the merge is a JVM ``bit_or`` aggregation over 64-bit words
(map-side combined, whole-stage codegen); only NON-ZERO words reach the
driver — ≤ min(num_bits/64, distinct set bits) rows of 16 bytes,
independent of build-side row count — so the bitmap cap can sit far
higher than a partial-bitmap collect would allow.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cov_tiles_spark.operators.sampling import sample_hash

_LOG = logging.getLogger(__name__)

_MAX_BITS = 1 << 30  # 128 MiB bitmap ceiling (word-merge keeps the
# driver collect at <= num_bits/64 rows, so this is broadcast-bound,
# not collect-bound)


def _positions(key: F.Column, num_bits: int, num_hashes: int) -> list[F.Column]:
    """k engine-portable bit positions for a bigint key — taken from the
    TOP bits of ``sample_hash`` (its final step is a multiply mod 2^31,
    which leaves the LOW bits poorly mixed: ``% num_bits`` measured ~2x
    the theoretical false-positive rate; same reason
    ``operators/sketch.py`` derives HLL registers from the top bits)."""
    shift = 31 - (int(num_bits).bit_length() - 1)  # num_bits = 2^b
    return [
        F.shiftright(sample_hash(key, seed=1_000 + i), shift)
        for i in range(num_hashes)
    ]


def build_bloom(
    df: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int,
) -> bytes:
    """Packed little-endian bitmap with every key's k bits set.

    ``num_bits`` must be a power of two (>= 2^14 as sized by
    ``bloom_semi_join``). The OR-merge happens in the JVM: positions
    group into 64-bit words (``p >> 6``) and ``bit_or`` their lane
    masks; the driver only scatters the non-zero words into the final
    bitmap. The word shuffle runs on 64 partitions (the aggregation is
    map-side combined either way)."""
    if num_bits <= 0 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two, got {num_bits}")
    pos = df.select(
        F.explode(
            F.array(*_positions(F.col(key_col), num_bits, num_hashes))
        ).alias("p")
    )
    words = (
        pos.repartition(64, F.shiftright("p", 6))
        .groupBy(F.shiftright("p", 6).alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint), cast(p % 64 as int)))"
            ).alias("m")
        )
        .collect()
    )
    out = np.zeros(num_bits // 64, dtype="<i8")
    if words:
        idx = np.fromiter((r["w"] for r in words), dtype=np.int64, count=len(words))
        out[idx] = np.fromiter(
            (r["m"] for r in words), dtype=np.int64, count=len(words)
        )
    # little-endian int64 words viewed as bytes put bit p at byte p>>3,
    # lane p&7 — exactly what the membership gather indexes
    return out.view(np.uint8).tobytes()


def bloom_filter_rows(
    df: DataFrame,
    key_col: str,
    bloom: bytes,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Keep rows whose key *may* be in the filter (no false negatives)."""
    if num_bits <= 0 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two, got {num_bits}")
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.frombuffer(bloom, dtype=np.uint8))
    pos_cols = _positions(F.col(key_col), num_bits, num_hashes)
    staged = df.withColumn("_bpos", F.array(*pos_cols))

    @F.pandas_udf("boolean")
    def member(pos: pd.Series) -> pd.Series:
        bits = bc.value
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        arr = np.stack(pos.to_numpy())  # (rows, k)
        ok = np.ones(len(arr), dtype=bool)
        for j in range(arr.shape[1]):
            p = arr[:, j]
            ok &= (bits[p >> 3] >> (p & 7).astype(np.uint8)) & 1 == 1
        return pd.Series(ok)

    return staged.filter(member(F.col("_bpos"))).drop("_bpos")


def bloom_semi_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Exact ``big SEMI JOIN small ON key`` with map-side Bloom pruning.

    The bitmap gets >= 10 bits per distinct ``small`` key and
    k = round(ln 2 * bits/key) hashes (at most 8): ~1% false positives,
    so the exchange carries ~(selectivity + 1%) of the big side instead
    of all of it; the trailing exact semi-join removes the false
    positives, so the output is exactly the plain semi-join's.
    """
    bits_per_key = 10
    n = small.select(key).distinct().count()
    want_bits = 1 << max(14, math.ceil(math.log2(max(n, 1) * bits_per_key)))
    num_bits = min(want_bits, _MAX_BITS)
    num_hashes = max(1, min(8, round(0.693 * num_bits / max(n, 1))))
    if want_bits > num_bits:
        # the cap binds: the filter stays EXACT (the trailing semi-join
        # is unconditional) but pruning quietly degrades as fpp rises —
        # surface the effective rate so operators see it in the logs
        eff_fpp = (1.0 - math.exp(-num_hashes * n / num_bits)) ** num_hashes
        _LOG.warning(
            "bloom_semi_join: bitmap capped at %d bits (wanted %d for "
            "%d keys at %d bits/key); effective false-positive rate "
            "~%.4f — pruning degrades toward a no-op as this nears 1",
            num_bits, want_bits, n, bits_per_key, eff_fpp,
        )
    bloom = build_bloom(small, key, num_bits, num_hashes)
    pruned = bloom_filter_rows(big, key, bloom, num_bits, num_hashes)
    return pruned.join(small.select(key).distinct(), key, "left_semi")
