"""HyperLogLog sketch: scalar-oracle register equality and accuracy."""

from __future__ import annotations

import math

from cov_tiles_spark.operators.sketch import (
    _M,
    ALPHA_NUM,
    hll_distinct,
    hll_estimate,
    hll_registers,
)

RING = 1 << 31


def _py_hash(key: int, seed: int) -> int:
    x0 = ((key % RING) + RING) % RING
    x = (x0 + (seed * 2_654_435_769 + 1) % RING) % RING
    h1 = (x * 2654435761 + 1) % RING
    h2 = h1 ^ (h1 >> 15)
    return (h2 * 2246822519) % RING


def _py_registers(keys) -> dict[int, int]:
    regs: dict[int, int] = {}
    for k in keys:
        idx = _py_hash(k, 101) >> 19  # top 12 of 31 bits
        h2 = _py_hash(k, 202)
        rho = 32 if h2 == 0 else 32 - h2.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    return regs


def _py_estimate(regs: dict[int, int]) -> float:
    s = sum(1 << (32 - r) for r in regs.values()) + (_M - len(regs)) * (1 << 32)
    zeros = _M - len(regs)
    raw = ALPHA_NUM / s
    if raw <= 2.5 * _M and zeros > 0:
        return round(_M * math.log(_M / zeros), 4)
    return round(raw, 4)


def test_registers_match_scalar_oracle(spark):
    keys = list(range(-500, 2500, 3))
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["idx"]: r["max_rho"] for r in hll_registers(df, "k").collect()
    }
    assert got == _py_registers(keys)


def test_estimate_matches_scalar_and_is_accurate(spark):
    n = 20000
    df = spark.createDataFrame([(k * 7 + 1,) for k in range(n)], "k long")
    row = hll_estimate(hll_registers(df, "k")).collect()[0]
    assert row["hll_est"] == _py_estimate(_py_registers([k * 7 + 1 for k in range(n)]))
    # p=12 standard error is ~1.04/sqrt(4096) = 1.6%; allow 3 sigma
    assert abs(row["hll_est"] - n) / n < 0.05


def test_grouped(spark):
    rows = [("a", k) for k in range(1000)] + [("b", k) for k in range(50)]
    df = spark.createDataFrame(rows, "g string, k long")
    out = {r["g"]: r for r in hll_distinct(df, "k", ["g"]).collect()}
    assert abs(out["a"]["hll_est"] - 1000) / 1000 < 0.06
    assert abs(out["b"]["hll_est"] - 50) / 50 < 0.15
