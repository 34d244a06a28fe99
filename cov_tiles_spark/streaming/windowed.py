"""Event-time streaming operators: watermarked windowed tile stats and a
custom stateful sessionizer.

The two Structured-Streaming-native shapes a continuously-arriving
corpus needs:

- ``tile_counts_windowed``: per-(window, tile) feature counts over event
  time with a watermark bounding state — late records beyond the
  watermark are dropped by the engine, so state size is O(open windows x
  live tiles) regardless of stream length.
- ``sessionize_stream``: gap-based sessionization as a custom stateful
  operator via ``applyInPandasWithState`` (Arrow-batched per group, no
  per-row Python): per-user state carries (session_start, last_seen,
  n_events); a record arriving more than ``gap`` after ``last_seen``
  closes and emits the previous session. Closed sessions are emitted by
  data arrival (deterministic in tests); the still-open tail session
  stays in state, exactly like a production job that emits it on
  event-time timeout.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _tile_cols(zoom: int):
    n = 1 << zoom
    mx = (F.col("lon") + F.lit(180.0)) / F.lit(360.0)
    my = (
        F.lit(0.5)
        - F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(F.col("lat")) / F.lit(2.0)))
        / F.lit(2.0 * math.pi)
    )
    tx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(mx * n))).cast("int")
    ty = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(my * n))).cast("int")
    return tx.alias("x"), ty.alias("y")


def tile_counts_windowed(
    stream: DataFrame,
    zoom: int,
    window_duration: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window per-tile counts over event time (``ts`` column).

    Whole plan is codegen (mercator math + window + hash agg); the
    watermark bounds both state and late-data acceptance. Works on a
    streaming OR batch DataFrame (batch ignores the watermark), so the
    same definition serves the backfill job and the live query.
    """
    tx, ty = _tile_cols(zoom)
    pts = stream.withWatermark("ts", watermark) if stream.isStreaming else stream
    return (
        pts.select(F.col("ts"), tx, ty)
        .groupBy(
            F.window("ts", window_duration).alias("win"),
            F.lit(zoom).alias("z"), "x", "y",
        )
        .agg(F.count("*").alias("n_points"))
        .select(
            F.col("win.start").alias("win_start"), "z", "x", "y", "n_points"
        )
    )


_SESSION_OUT = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_SESSION_STATE = "start_us long, last_us long, n long"


def sessionize_stream(stream: DataFrame, gap_minutes: int = 60) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator.

    ``applyInPandasWithState`` keyed by ``user_id``: state carries the
    open session; events separated by more than the gap close the prior
    session and emit it. Needs (user_id long, ts timestamp) columns.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend((pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist())
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = -1
            n = 0
        out = []
        for t in ts_us:
            if start_us < 0:
                start_us = last_us = t
                n = 1
            elif t - last_us > gap_us:
                out.append((user_id, start_us, last_us, n))
                start_us = last_us = t
                n = 1
            else:
                last_us = max(last_us, t)
                n += 1
        state.update((start_us, last_us, n))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "session_start": pd.to_datetime([o[1] for o in out], unit="us"),
                    "session_end": pd.to_datetime([o[2] for o in out], unit="us"),
                    "n_events": [o[3] for o in out],
                }
            )

    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
