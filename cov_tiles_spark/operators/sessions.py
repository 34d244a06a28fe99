"""Gap-based sessionization over event streams (batch form).

The classic web-scale event operator: split each user's event sequence
into sessions wherever the inter-event gap exceeds a timeout, then
aggregate per-session stats. Pure window/aggregate column expressions —
one hash exchange on the user key, no Python anywhere.

Scale shape (the 100 TB lens):

- ONE shuffle on ``user_col``; the lag/cumsum window and the session
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


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    gap_sec: int = 1800,
) -> DataFrame:
    """Assign a per-user ``session_id`` (1-based, in time order).

    A new session starts at the first event and whenever the gap to the
    previous event exceeds ``gap_sec``. ``order_tiebreak`` makes the
    ordering total when timestamps collide (exactly-equal timestamps
    are common in real logs).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    # parquet timestamps arrive as TIMESTAMP_NTZ; the cast makes
    # unix_micros accept them, and any session-timezone offset it
    # introduces is constant, so the gap differences are unaffected
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
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


def session_stats(
    sessions: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str | None = "value",
) -> DataFrame:
    """Per-session aggregate: event count, span, bounds.

    Rides the same user-key partitioning ``sessionize`` created — no
    extra exchange. ``duration_us`` is exact integer microseconds.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    aggs = [
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (F.max(us) - F.min(us)).alias("duration_us"),
    ]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 4).alias("sum_value"))
    return sessions.groupBy(user_col, "session_id").agg(*aggs)
