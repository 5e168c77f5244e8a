"""Load the driver-generated parquet tables (TESTDATA.md) as DataFrames.

Plain ``spark.read.parquet`` scans: Catalyst handles column pruning and
predicate pushdown from whatever plan is built on top, so the loader adds
no execution-side behavior — no .cache(), no repartitioning — keeping every
query's scan as close to the storage layer as possible.

The DRIVER-side relation is memoized per (session, dir, table): building
``spark.read.parquet`` resolves the footer schema over RPC every call
(~0.3 s), which dominated plan-build time when a query references 4 tables.
Reusing the immutable analyzed relation is free and semantics-preserving
(the testdata dirs are immutable by contract).
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

_RELATION_CACHE: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _RELATION_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    if key in per_session:
        return per_session[key]
    if name == "events":
        # events.ts arrives in whatever parquet flavor the data generator used:
        # TIMESTAMP(NANOS) (rejected by Spark's reader unless nanosAsLong),
        # TIMESTAMP_NTZ (isAdjustedToUTC=false), or a UTC timestamp. Normalize
        # all three to Spark's native µs TimestampType (session tz is UTC, so
        # the NTZ→TZ cast is wall-clock-preserving) — the same ns→µs decode
        # the reference applies to timeUnixNano (SURVEY.md §2.A5).
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):  # legacy-conf long nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):  # wall-clock == UTC here
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif not isinstance(ts_type, T.TimestampType):
            # anything else (string, double, ...) would cast to silent NULLs —
            # surface the schema mismatch instead
            raise TypeError(f"events.ts has unexpected parquet type {ts_type}")
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    per_session[key] = df
    return df

