"""Salted join (pipeline/skew.py) on a corpus where 90% of rows share
one hot key."""

from __future__ import annotations

from pyspark.sql import functions as F

from cov_tiles_spark.pipeline.skew import salted_join


def _hot_corpus(spark, n=20_000):
    # 90% of rows land on key 0, the rest spread over 50 keys
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % 50 + 1)
        .alias("k"),
        F.col("id").alias("row_id"),
    )


def test_salted_join_matches_plain_join(spark):
    big = _hot_corpus(spark, 5_000)
    small = spark.range(51).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("dim_val")
    )
    plain = big.join(small, ["k"]).select("k", "row_id", "dim_val")
    salted = salted_join(big, small, ["k"], factor=8, salt_from="row_id").select(
        "k", "row_id", "dim_val"
    )
    assert salted.count() == plain.count() == 5_000
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
