"""Stateful streaming sessionization via ``applyInPandasWithState``.

The reference has no stateful streaming operator (SURVEY.md §2.A notes —
late records just land where their event time dictates), so this is a
documented ENGINE EXTENSION: the streaming counterpart of the batch
``window_sessionize`` query, for pipelines that need sessions continuously
rather than per-batch.

Semantics: per key, events closer than ``gap_seconds`` belong to one
session. A session CLOSES (and is emitted) when a later event for the key
arrives more than the gap after it, or when the event-time watermark passes
its timeout. The last session per key stays open in state until one of
those happens — exactly-once output via the checkpoint.

State per key is three scalars (start, last, count) — at 100 TB-scale
cardinalities the state store is bounded by live keys, not traffic, and the
watermark timeout reaps idle keys.

The worker function is defined inside the operator (pickled by value; no
package needed on executors), like every Python-side stage in this engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
STATE_SCHEMA = "start_us long, last_us long, n long"


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 21600,
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """events stream -> closed-session stream (append mode).

    ``events`` must be a streaming DataFrame with an event-time column.
    """
    gap_us = gap_seconds * 1_000_000

    def close_sessions(key, pdf_iter, state):
        import pandas as _pd

        (uid,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield _pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start": [_pd.Timestamp(start_us, unit="us")],
                    "session_end": [_pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return

        ts_us = []
        for pdf in pdf_iter:
            ts_us.extend(int(t.value // 1000) for t in _pd.to_datetime(pdf["ts"]))
        if not ts_us:
            return
        ts_us.sort()

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = ts_us[0], ts_us[0], 0

        closed = {"user_id": [], "session_start": [], "session_end": [], "n_events": []}
        for t in ts_us:
            if n > 0 and t - last_us > gap_us:
                closed["user_id"].append(uid)
                closed["session_start"].append(_pd.Timestamp(start_us, unit="us"))
                closed["session_end"].append(_pd.Timestamp(last_us, unit="us"))
                closed["n_events"].append(n)
                start_us, n = t, 0
            last_us = t
            n += 1

        state.update((start_us, last_us, n))
        # reap the open session when the watermark passes last + gap
        timeout_ms = max((last_us + gap_us) // 1000, state.getCurrentWatermarkMs() + 1)
        state.setTimeoutTimestamp(timeout_ms)
        if closed["user_id"]:
            yield _pd.DataFrame(closed)

    keyed = events.select(
        events[key_col].alias("user_id"), events[ts_col].alias("ts")
    ).withWatermark("ts", watermark_delay)
    return keyed.groupBy("user_id").applyInPandasWithState(
        close_sessions,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

