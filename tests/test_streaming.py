"""Structured Streaming event-time operator: watermarked windowed tile
counts."""

from __future__ import annotations

from pyspark.sql import functions as F


def _write_drop(spark, path: str, rows, schema: str, mtime: float) -> None:
    """One single-file parquet drop with a pinned mtime so the file
    source's modification-time ordering processes drops in our order."""
    import glob
    import os

    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    for f in glob.glob(f"{path}/*.parquet"):
        os.utime(f, (mtime, mtime))
    os.utime(path, (mtime, mtime))


def test_windowed_tile_counts_with_watermark(spark, tmp_path):
    """Event-time tumbling windows + watermark: a record arriving (in a
    later micro-batch) behind the watermark is dropped; finalized windows
    emit exactly once in append mode."""
    from datetime import datetime, timezone

    from cov_tiles_spark.streaming.windowed import tile_counts_windowed

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, lon double, lat double"

    def t(minute):
        return datetime(2024, 1, 1, 10, minute, tzinfo=timezone.utc)

    # batch 1: three on-time records in the 10:00 and 10:10 windows
    _write_drop(
        spark, f"{landing}/d1",
        [(t(1), 10.0, 10.0), (t(2), 10.0, 10.0), (t(11), 10.0, 10.0)],
        schema, mtime=1_700_000_000,
    )
    # batches 2+3: advance the watermark to 10:49. Two advancing batches
    # because Spark >= 3.4 tracks two watermarks — late-record filtering
    # uses the PREVIOUS batch's value (so chained stateful operators stay
    # consistent), eviction uses the current one — so a record is only
    # dropped once the clock advanced two batches before it arrives.
    _write_drop(
        spark, f"{landing}/d2",
        [(t(59), 10.0, 10.0)],
        schema, mtime=1_700_000_100,
    )
    _write_drop(
        spark, f"{landing}/d3",
        [(t(59), 10.0, 10.0)],
        schema, mtime=1_700_000_200,
    )
    # batch 4: one LATE record for the finalized 10:00 window -> dropped
    _write_drop(
        spark, f"{landing}/d4",
        [(t(3), 10.0, 10.0)],
        schema, mtime=1_700_000_300,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*")
    )
    q = (
        tile_counts_windowed(stream, zoom=4, window_duration="10 minutes")
        .writeStream.format("memory").queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.win_start.minute, r.n_points)
        for r in spark.sql("select * from win_counts").collect()
    }
    # 10:00 window finalized with 2 records (the late third was dropped);
    # the 10:10 window finalized with 1; the 10:50 window never finalizes
    # before the stream ends, so append mode does not emit it.
    assert got == {(0, 2), (10, 1)}

    # same definition runs as a batch backfill (watermark ignored: all 6)
    batch = spark.createDataFrame(
        [(t(1), 10.0, 10.0), (t(2), 10.0, 10.0), (t(11), 10.0, 10.0),
         (t(59), 10.0, 10.0), (t(59), 10.0, 10.0), (t(3), 10.0, 10.0)], schema)
    back = tile_counts_windowed(batch, zoom=4, window_duration="10 minutes")
    assert back.agg(F.sum("n_points")).collect()[0][0] == 6
