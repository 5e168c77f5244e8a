"""Stateful streaming sessionizer: emitted (closed) sessions must equal the
batch sessionization of the same events minus each key's final (still-open)
session."""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F

from demo_otel_parquet_antalya_spark.streaming.sessionize import sessionize_stream

GAP_S = 60


def _write_events(path, rows):
    """One JSON-lines file of (user_id, ts-seconds-offset) events."""
    import os

    os.makedirs(path, exist_ok=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    with open(f"{path}/events.json", "w") as f:
        for uid, off in rows:
            f.write(json.dumps({"user_id": uid, "ts": str(base + pd.Timedelta(seconds=off))}) + "\n")


def test_closed_sessions_match_batch(spark, tmp_path):
    # user 1: three bursts (two closed, one open); user 2: one open burst
    rows = [(1, 0), (1, 10), (1, 20), (1, 200), (1, 215), (1, 500), (2, 0), (2, 30)]
    src = str(tmp_path / "events")
    _write_events(src, rows)

    schema = "user_id bigint, ts timestamp"
    stream = spark.readStream.schema(schema).json(src)
    q = (
        sessionize_stream(stream, gap_seconds=GAP_S, watermark_delay="0 seconds")
        .writeStream.format("memory")
        .queryName("closed_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("closed_sessions").collect()
    }

    # batch oracle: sessionize, then drop each user's last (open) session
    from pyspark.sql import Window as W

    batch = spark.read.schema(schema).json(src)
    w = W.partitionBy("user_id").orderBy("ts")
    w_gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    sess = (
        batch.withColumn("new", F.when(w_gap.isNull() | (w_gap > GAP_S), 1).otherwise(0))
        .withColumn("sid", F.sum("new").over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
    # a session is still OPEN only if it is its user's last one AND the final
    # watermark (max event time here) hasn't passed its end + gap — otherwise
    # the event-time timeout reaps it
    max_ts = batch.agg(F.max(F.col("ts").cast("double"))).collect()[0][0]
    last_sid = sess.groupBy("user_id").agg(F.max("sid").alias("sid"))
    still_open = sess.join(last_sid, ["user_id", "sid"], "left_semi").filter(
        F.col("session_end").cast("double") + GAP_S > max_ts
    )
    closed = sess.join(
        still_open.select("user_id", "sid"), ["user_id", "sid"], "left_anti"
    )
    want = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in closed.collect()
    }
    # user 1: two closed bursts; user 2: idle past the watermark -> reaped
    assert got == want and len(want) == 3

