"""Bloom-pruned semi join == plain semi join, with real pruning."""

from __future__ import annotations

import numpy as np

from cov_tiles_spark.operators.bloomjoin import (
    bloom_filter_rows,
    bloom_semi_join,
    build_bloom,
)


def test_bloom_no_false_negatives(spark):
    small = spark.createDataFrame(
        [(int(k),) for k in range(0, 1000, 7)], "k long"
    )
    bloom = build_bloom(small, "k", num_bits=1 << 14, num_hashes=5)
    big = spark.createDataFrame([(int(k),) for k in range(1000)], "k long")
    kept = {
        r["k"]
        for r in bloom_filter_rows(
            big, "k", bloom, num_bits=1 << 14, num_hashes=5
        ).collect()
    }
    members = set(range(0, 1000, 7))
    assert members <= kept  # zero false negatives, ever
    # filter is sized ~11 bits/key here: false positives must be rare
    assert len(kept - members) < 100


def test_bloom_semi_join_exact(spark):
    rng = np.random.default_rng(3)
    big = spark.createDataFrame(
        [(int(k), i) for i, k in enumerate(rng.integers(0, 5000, 20000))],
        "k long, payload long",
    )
    small = spark.createDataFrame(
        [(int(k),) for k in rng.choice(5000, 150, replace=False)], "k long"
    )
    got = sorted(
        (r["k"], r["payload"]) for r in bloom_semi_join(big, small, "k").collect()
    )
    want = sorted(
        (r["k"], r["payload"])
        for r in big.join(small, "k", "left_semi").collect()
    )
    assert got == want


def test_bloom_negative_keys(spark):
    small = spark.createDataFrame([(-5,), (-1_000_000,), (3,)], "k long")
    big = spark.createDataFrame(
        [(int(k),) for k in range(-1_000_001, -999_990)] + [(-5,), (3,), (4,)],
        "k long",
    )
    got = sorted(r["k"] for r in bloom_semi_join(big, small, "k").collect())
    assert got == [-1_000_000, -5, 3]


def test_bloom_fpp_near_theoretical(spark):
    """Top-bits positions: measured false-positive rate must sit near
    the theoretical (1-e^{-kn/m})^k — the low-bits variant measured ~2x
    it (ADVICE r2), which this pins against regression."""
    n, m, k = 20_000, 1 << 18, 7
    small = spark.createDataFrame([(int(i),) for i in range(n)], "k long")
    bloom = build_bloom(small, "k", num_bits=m, num_hashes=k)
    probes = spark.createDataFrame(
        [(int(i),) for i in range(n, n + 50_000)], "k long"
    )
    fp = bloom_filter_rows(probes, "k", bloom, num_bits=m, num_hashes=k).count()
    import math

    theo = (1.0 - math.exp(-k * n / m)) ** k
    assert fp / 50_000 < 1.5 * theo, (fp / 50_000, theo)


def test_bloom_cap_binding_logs_fpp_and_stays_exact(spark, caplog, monkeypatch):
    """When _MAX_BITS binds, the effective fpp is logged and the join
    output is still exactly the plain semi-join."""
    import cov_tiles_spark.operators.bloomjoin as bj

    monkeypatch.setattr(bj, "_MAX_BITS", 1 << 14)
    rng = np.random.default_rng(11)
    big = spark.createDataFrame(
        [(int(x),) for x in rng.integers(0, 100_000, 30_000)], "k long"
    )
    small = spark.createDataFrame(
        [(int(x),) for x in rng.choice(100_000, 8_000, replace=False)],
        "k long",
    )
    with caplog.at_level("WARNING", logger="cov_tiles_spark.operators.bloomjoin"):
        got = sorted(r["k"] for r in bj.bloom_semi_join(big, small, "k").collect())
    assert any("capped" in r.message and "false-positive" in r.message
               for r in caplog.records)
    want = sorted(r["k"] for r in big.join(small, "k", "left_semi").collect())
    assert got == want

