

def test_cell_stats_rollup_equals_direct(spark):
    """Rollup from aggregates == direct per-level groupBy from raw rows
    (Hilbert hierarchy: parent = cell >> 2k)."""
    import numpy as np
    from pyspark.sql import functions as F

    from cov_tiles_spark.spatial.cells import cell_s2l13, cell_stats_rollup

    rng = np.random.default_rng(13)
    rows = [
        (float(lon), float(lat))
        for lon, lat in zip(
            rng.uniform(-179, 179, 5000), rng.uniform(-80, 80, 5000)
        )
    ]
    df = spark.createDataFrame(rows, "lon double, lat double") \
        .withColumn("cell", cell_s2l13("lon", "lat")).persist()
    got = {
        (r.level, r.cell): r.n_points
        for r in cell_stats_rollup(df, "cell", [13, 11, 9]).collect()
    }
    want = {}
    for bits in (13, 11, 9):
        for r in (
            df.groupBy(F.shiftright("cell", 2 * (13 - bits)).alias("c"))
            .agg(F.count("*").alias("n"))
            .collect()
        ):
            want[(bits, r.c)] = r.n
    assert got == want
    # coarser levels really shrink (telescoping)
    n13 = sum(1 for k in got if k[0] == 13)
    n9 = sum(1 for k in got if k[0] == 9)
    assert n9 < n13
    df.unpersist()


def test_cell_stats_rollup_rejects_levels_not_descending_from_s2_bits(spark):
    """Raised, not asserted (``python -O`` strips asserts); a repeated
    level would emit that level twice."""
    import pytest

    from cov_tiles_spark.spatial.cells import cell_stats_rollup

    df = spark.createDataFrame([(1,)], "cell long")
    for levels in ([13, 13], [13, 9, 11], [11, 9], []):
        with pytest.raises(ValueError, match="descend strictly"):
            cell_stats_rollup(df, "cell", levels)
