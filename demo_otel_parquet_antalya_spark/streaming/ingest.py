"""Structured Streaming ingest: landing-dir OTLP JSON -> partitioned Parquet.

One streaming query subsumes the reference's collector-batch + otlp2parquet
writer pair (SURVEY.md §2.A2, A6-A7, §3.1):

    readStream.json(landing)  ->  flatten_otlp  ->  writeStream
        .partitionBy(service_name, year, month, day, hour)
        .trigger(processingTime=...)
        .option("checkpointLocation", ...)

- Micro-batching IS the collector's batch processor (reference
  docker-compose.yaml:192-195): the trigger interval plays the 5 s flush-age
  role. A batch takes every landing file present at its trigger, where the
  collector also caps a batch at 10k records.
- The checkpoint replaces both the writer's buffer state and the sync loop's
  ``/tmp/synced_files.txt`` (reference scripts/sync-logs.sh:44-52): the file
  source tracks processed landing files, the file sink commits output files
  to its metadata log — end-to-end exactly-once into the warehouse, strictly
  stronger than the reference's at-least-once + skip-duplicates.
- ``spark.sql.files.maxRecordsPerFile`` (set session-wide, session.py) caps
  flushed files at 200k rows like OTLP2PARQUET_BATCH_MAX_ROWS
  (docker-compose.yaml:88).

At cluster scale the landing dir is an object-store prefix fed by N stateless
receivers; file listing is the only driver-side cost, bounded via
``maxFileAge`` + landing-file compaction.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from demo_otel_parquet_antalya_spark.schema import OTLP_ENVELOPE_SCHEMA, PARTITION_COLUMNS
from demo_otel_parquet_antalya_spark.sources.otlp import flatten_otlp
from demo_otel_parquet_antalya_spark.sources.parquet_sink import with_partition_columns


def read_otlp_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over the landing directory (schema enforced, never
    inferred — same contract as batch ``read_otlp_json``)."""
    return spark.readStream.schema(OTLP_ENVELOPE_SCHEMA).option("multiLine", "true").json(landing_dir)


def _read_otlp_protobuf_envelopes(spark: SparkSession, landing_dir: str) -> DataFrame:
    from demo_otel_parquet_antalya_spark.sources.otlp_proto import (
        read_otlp_protobuf_stream,
    )

    return read_otlp_protobuf_stream(spark, landing_dir).select("resourceLogs")


# session -> {(reader, landing_dir): the JVM Dataset of the partitioned
# flat stream}. A new session, also one made after a stop, builds its own;
# the values hold no Python reference to their session, so a collected
# session's plans go with it.
_INGEST_PLANS = weakref.WeakKeyDictionary()


def _ingest_sink(
    spark: SparkSession, read, landing_dir: str, warehouse_root: str, checkpoint_dir: str
) -> DataStreamWriter:
    """The partitioned-parquet writer of
    ``with_partition_columns(flatten_otlp(read(spark, landing_dir)))``,
    whose plan is built and analyzed once per session and landing dir.

    The plan is the same on every cycle, and rebuilding it in Python cost
    more than a small cycle's write. Reusing it keeps exactly-once: each
    ``start()`` resolves the plan's file source anew, against its own
    query's checkpoint."""
    plans = _INGEST_PLANS.setdefault(spark, {})
    key = (read, landing_dir)
    if key not in plans:
        plans[key] = with_partition_columns(flatten_otlp(read(spark, landing_dir)))._jdf
    return (
        DataFrame(plans[key], spark)
        .writeStream.format("parquet")
        .partitionBy(*PARTITION_COLUMNS)
        .option("path", warehouse_root)
        .option("checkpointLocation", checkpoint_dir)
    )


def start_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    trigger_seconds: float = 5.0,
) -> StreamingQuery:
    """Start the end-to-end ingest query; returns the running StreamingQuery.

    The 5 s default trigger mirrors the reference collector's batch timeout
    (docker-compose.yaml:195); pass ``availableNow``-style one-shot semantics
    by calling ``run_ingest_once`` instead.
    """
    sink = _ingest_sink(spark, read_otlp_stream, landing_dir, warehouse_root, checkpoint_dir)
    return sink.trigger(processingTime=f"{trigger_seconds} seconds").start()


def run_ingest_once(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
) -> None:
    """Drain everything currently in the landing dir and stop (Trigger.AvailableNow).

    Re-running after new files arrive processes only the delta — the
    checkpoint makes this the incremental-registration loop of the reference
    (scripts/sync-logs.sh:80-86) with exactly-once instead of a state file.
    """
    sink = _ingest_sink(spark, read_otlp_stream, landing_dir, warehouse_root, checkpoint_dir)
    sink.trigger(availableNow=True).start().awaitTermination()


def run_ingest_protobuf_once(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
) -> None:
    """Protobuf twin of ``run_ingest_once``: drain ``.pb`` landing files
    through the streaming binaryFile source -> Arrow-batched wire decode ->
    the SAME ``flatten_otlp`` -> partitioned parquet (Trigger.AvailableNow).

    Gives raw-protobuf backfills the identical exactly-once checkpoint
    contract as the JSON path; batch-streaming equivalence is pinned by
    tests/test_otlp_proto.py.
    """
    sink = _ingest_sink(spark, _read_otlp_protobuf_envelopes, landing_dir, warehouse_root, checkpoint_dir)
    sink.trigger(availableNow=True).start().awaitTermination()


def streaming_severity_counts(logs: DataFrame, bucket_seconds: int = 30) -> DataFrame:
    """Continuous version of the Grafana time-series panel (reference Q5,
    logs.json:123): 30 s tumbling windows × service × severity with a
    watermark for state cleanup. The reference has no such stateful operator
    (SURVEY.md §2.A notes) — this is the documented extension, verified by a
    streaming-vs-batch equivalence test."""
    from pyspark.sql import functions as F

    return (
        logs.withWatermark("timestamp", "10 minutes")
        .groupBy(
            F.window("timestamp", f"{bucket_seconds} seconds").alias("w"),
            "service_name",
            "severity_text",
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("t"), "service_name", "severity_text", "n")
    )
