"""Partitioned Parquet sink for the ``otel.logs`` table.

Reproduces the reference writer's layout contract (SURVEY.md §2.A6-A7):
Hive-style paths ``service_name=/year=/month=/day=/hour=`` (reference path
shape README.md:171) with files capped at 200k rows (docker-compose.yaml:88,
enforced session-wide via spark.sql.files.maxRecordsPerFile).

Scale notes:
- partition columns give Catalyst partition pruning on service + time-range
  predicates — the reference gets the same effect from its path layout;
- rows are sorted within partitions by timestamp before the write so parquet
  row-group min/max stats stay tight (reference relies on natural batch
  time-ordering for this, SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_otel_parquet_antalya_spark.fsutil import hadoop_glob, local_root
from demo_otel_parquet_antalya_spark.schema import PARTITION_COLUMNS, WAREHOUSE_SCHEMA


def with_partition_columns(logs: DataFrame) -> DataFrame:
    """Derive year/month/day/hour from the event timestamp (A7)."""
    return (
        logs.withColumn("year", F.year("timestamp"))
        .withColumn("month", F.month("timestamp"))
        .withColumn("day", F.dayofmonth("timestamp"))
        .withColumn("hour", F.hour("timestamp"))
    )


def write_logs(logs: DataFrame, root: str, mode: str = "append") -> None:
    """Write flat otel.logs rows to the partitioned warehouse layout."""
    (
        with_partition_columns(logs)
        .sortWithinPartitions("timestamp")
        .write.mode(mode)
        .partitionBy(*PARTITION_COLUMNS)
        .parquet(root)
    )


def read_logs(spark: SparkSession, root: str, *paths: str) -> DataFrame:
    """Scan the partitioned warehouse at ``root``, or only its directories
    ``paths``; partition columns come back typed (basePath keeps them even
    for single-partition reads).

    Over this package's layout the read declares ``WAREHOUSE_SCHEMA``,
    which spares it the Spark job that schema inference runs to sample a
    file footer. A root without that layout is a directory this package
    did not partition, so its columns are not known and the read infers
    them: declaring year/month/day/hour there would read them as NULL, and
    ``time_filter``'s partition predicates would then drop every row."""
    reader = spark.read.option("basePath", root)
    if paths or has_layout(spark, root):
        reader = reader.schema(WAREHOUSE_SCHEMA)
    return reader.parquet(*(paths or (root,)))


def has_layout(spark: SparkSession, root: str) -> bool:
    """Whether ``root``'s top level holds ``service_name=`` partition
    directories: one directory listing, no data read."""
    lead = f"{PARTITION_COLUMNS[0]}="
    local = local_root(root)
    if local is None:
        return bool(hadoop_glob(spark, root.rstrip("/") + f"/{lead}*"))
    try:
        return any(e.is_dir() and e.name.startswith(lead) for e in os.scandir(local))
    except OSError:
        return False


def backfill_logs(logs: DataFrame, root: str) -> None:
    """Idempotent partition-scoped backfill: overwrite ONLY the partitions
    the incoming frame touches, leave every other partition's files
    physically untouched (``partitionOverwriteMode=dynamic``, scoped to
    this write — the session default stays static so an accidental
    un-partitioned overwrite cannot silently become a table wipe).

    This is the reprocessing primitive at 100 TB: re-deriving one bad hour
    costs one hour's write, not a table rewrite, and re-running the same
    backfill converges (overwrite of the same partitions with the same
    rows). Pair with the registry's snapshot commit for an auditable swap.
    """
    spark = logs.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        (
            with_partition_columns(logs)
            .sortWithinPartitions("timestamp")
            .write.mode("overwrite")
            .partitionBy(*PARTITION_COLUMNS)
            .parquet(root)
        )
    finally:
        spark.conf.set(key, prev)
