"""Gap-based sessionization over event streams (batch form).

The classic web-scale event operator: split each user's event sequence
into sessions wherever the inter-event gap exceeds a timeout, then
aggregate per-session stats. Pure window/aggregate column expressions —
one hash exchange on the user key, no Python anywhere.

Scale shape (the 100 TB lens):

- ONE shuffle on ``user_id``; the lag/cumsum window and the session
  aggregate both reuse that partitioning (Catalyst collapses them onto
  the same exchange — no second shuffle for the stats).
- per-user data is the unit of serialization: a window over a user's
  ordered events cannot be salted (the cumulative session index is
  order-dependent across the whole user history). Real event corpora
  bound per-user volume (a user emits years << corpus span); for
  adversarial hot keys, pre-split by time range and stitch at the
  boundaries (two-phase: sessionize per epoch, merge sessions whose
  boundary gap <= timeout) — the same pattern as
  pipeline/layout.py's hot-key tiebreak note.
- all arithmetic is integer microseconds (``unix_micros``), so the
  DuckDB twin (epoch_us) reproduces it bit-exactly — no float rounding
  in the gate.

Every session is closed and emitted, each user's last one included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Assign a per-``user_id`` ``session_id`` (1-based, in ``ts`` order).

    A new session starts at the first event and whenever the gap to the
    previous event exceeds ``gap_sec``. ``event_id`` makes the ordering
    total when timestamps collide (exactly-equal timestamps are common
    in real logs).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet timestamps arrive as TIMESTAMP_NTZ; the cast makes
    # unix_micros accept them, and any session-timezone offset it
    # introduces is constant, so the gap differences are unaffected
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    new_sess = F.when(
        prev.isNull() | (us - prev > gap_sec * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_stats(sessions: DataFrame) -> DataFrame:
    """Per-session aggregate: event count, span, bounds, ``value`` sum.

    Rides the same user-key partitioning ``sessionize`` created — no
    extra exchange. ``duration_us`` is exact integer microseconds.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
