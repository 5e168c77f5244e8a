"""SparkSession factory with the engine's layout/optimizer knobs.

The reference buys its performance from data layout + engine defaults
(SURVEY.md §4): Hive-partitioned Parquet, batched file sizes, columnar
scans with pushdown. In Spark those are session configs — set once here,
single source of truth.

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  join-strategy switching replace hand-tuned shuffle counts at scale.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster set it ~2-3x total cores and let AQE coalesce.
- Parquet pushdown + vectorized reader stay on (defaults) — every scan
  in this engine is written so filters/projections reach the scan node.
- ``maxRecordsPerFile`` mirrors the reference writer's 200k-row flush cap
  (docker-compose.yaml:87-89) so files stay row-group friendly.
- The generated-class cache is sized to the working set. Spark keeps 100
  compiled classes by default (``spark.sql.codegen.cache.maxEntries``),
  an LRU, but one pass over the 23 bench queries generates ~513 distinct
  classes and perfbench's six ``suite`` queries ~106. A cache smaller
  than the set a pass cycles through evicts each class before its reuse,
  so every warm pass re-runs Janino on all of them (about 10 ms a
  class). The price is metaspace: a cached class stays loaded, ~8 KB
  each, so the bench working set holds ~3.4 MiB more than the default
  cache and a full cache at most ~16 MiB. It is a static conf:
  ``CodeGenerator`` reads it once per JVM, at its first compile, so it
  takes effect only through the builder, before the first session;
  ``spark.conf.set`` afterwards cannot change it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference flush cap: OTLP2PARQUET_BATCH_MAX_ROWS=200000 (docker-compose.yaml:88)
MAX_RECORDS_PER_FILE = 200_000
# Generated-class cache entries: ~4x the ~513 classes one pass over the 23
# bench queries generates, so a warm pass compiles nothing (Scale notes)
CODEGEN_CACHE_MAX_ENTRIES = 2048


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def _default_driver_memory() -> str:
    """Half the machine's physical memory, in whole GiB, at least 1g.

    Local mode runs every task inside the driver JVM, so its heap is the
    engine's working memory. It must still fit in RAM with room to spare:
    the JVM's off-heap use (netty and Arrow buffers, metaspace, thread
    stacks), the Python workers and the OS page cache live outside the
    heap. A heap larger than physical memory is no larger budget: on a
    host without swap the kernel kills the JVM once the heap grows past
    RAM, and every later query on the session fails."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, phys // 2**31)}g"


def _listing_conf(master: str) -> dict[str, str]:
    """Keep the file listing of a read on the driver in local mode.

    Spark lists the paths of a read with a Spark job, one task per path,
    once there are more than ``parallelPartitionDiscovery.threshold`` (32)
    of them; a registry snapshot passes one path per file. In local mode
    that job's tasks run inside the driver JVM over the same filesystem,
    so the job adds only its scheduling round trip, and a local session
    lists on the driver instead. The trade-off: against an object store
    (s3a) the driver lists the paths one request after another, where the
    job's tasks listed them in parallel, one per core; a local session
    over many object-store paths can set the threshold back through
    ``extra_conf``. Cluster masters keep Spark's default: there the job
    spreads the listing over the executors."""
    if master == "local" or master.startswith("local["):
        return {"spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1)}
    return {}


_STREAMING_AQE_LOGGER = "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream"


def get_spark(
    app_name: str = "demo-otel-parquet-antalya-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local-mode defaults are sized from SPARK_GRAFT_CPUS; on a cluster pass
    ``master=None`` with an external spark-submit master and a larger
    ``shuffle_partitions``.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # read parquet TIMESTAMP(NANOS) columns (e.g. events.ts) as long nanos;
        # the table loader converts to µs TimestampType (lossless for this data)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in {**_listing_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the streaming planner turns AQE off per query by design; its WARN on
    # every streaming start (each ingest cycle) carries no signal
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(_STREAMING_AQE_LOGGER, log4j.Level.ERROR)
    return spark


def configure_s3a(
    spark_builder,
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
):
    """S3-compatible object-store access (reference: rustfs via path-style S3,
    docker-compose.yaml:80-85,166-171). Apply on a builder BEFORE getOrCreate.

    Local runs use the filesystem; this is the production switch.
    """
    return (
        spark_builder.config("spark.hadoop.fs.s3a.endpoint", endpoint)
        .config("spark.hadoop.fs.s3a.access.key", access_key)
        .config("spark.hadoop.fs.s3a.secret.key", secret_key)
        .config("spark.hadoop.fs.s3a.path.style.access", str(path_style).lower())
        .config("spark.hadoop.fs.s3a.connection.ssl.enabled", "false")
    )
