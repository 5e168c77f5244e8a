"""Canonical schemas: the flat ``otel.logs`` table and the OTLP/JSON envelope.

Single source of truth (schema-on-write, SURVEY.md §1.3). The 15-column flat
schema mirrors the reference's documented ClickHouse-exporter-compatible table
(reference README.md:91-109); the envelope mirrors the OTLP JSON payload shape
(reference README.md:49-63).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Flat otel.logs table — reference README.md:93-109 (SURVEY.md §1.2)
# ---------------------------------------------------------------------------
OTEL_LOGS_SCHEMA = T.StructType(
    [
        # DateTime64(6) -> µs timestamp (README.md:95)
        T.StructField("timestamp", T.TimestampType(), False),
        # raw observed nanos kept as Int64 (README.md:96)
        T.StructField("observed_timestamp", T.LongType(), False),
        # promoted resource attributes (README.md:97-99)
        T.StructField("service_name", T.StringType(), False),
        T.StructField("service_namespace", T.StringType(), True),
        T.StructField("service_instance_id", T.StringType(), True),
        T.StructField("severity_text", T.StringType(), False),
        T.StructField("severity_number", T.IntegerType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("trace_id", T.StringType(), True),
        T.StructField("span_id", T.StringType(), True),
        # residual attribute maps serialized to JSON text (README.md:105-109)
        T.StructField("resource_attributes", T.StringType(), True),
        T.StructField("log_attributes", T.StringType(), True),
        T.StructField("scope_name", T.StringType(), True),
        T.StructField("scope_version", T.StringType(), True),
        T.StructField("scope_attributes", T.StringType(), True),
    ]
)

# Partition layout columns derived from `timestamp` (reference path shape
# logs/{service}/year=/month=/day=/hour=/ — README.md:171, SURVEY.md §2.A7)
PARTITION_COLUMNS = ["service_name", "year", "month", "day", "hour"]

# What a read of the partitioned warehouse resolves to: the data columns in
# file order, then the partition columns as partition discovery types them
# (year/month/day/hour as int). Declaring it spares every read the job that
# schema inference runs to sample a file footer. Every field is nullable:
# NULL-timestamp rows land in the Hive default partition with NULL
# year/month/day/hour, and a read must not promise more than the files do.
WAREHOUSE_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True)
     for f in OTEL_LOGS_SCHEMA.fields if f.name not in PARTITION_COLUMNS]
    + [T.StructField(c, OTEL_LOGS_SCHEMA[c].dataType if c in OTEL_LOGS_SCHEMA.names
                     else T.IntegerType(), True)
       for c in PARTITION_COLUMNS]
)

# Resource attributes promoted to top-level columns (README.md:97-99)
PROMOTED_RESOURCE_ATTRS = {
    "service.name": "service_name",
    "service.namespace": "service_namespace",
    "service.instance.id": "service_instance_id",
}

# ---------------------------------------------------------------------------
# OTLP/JSON ingest envelope — reference README.md:49-63 (FIXTURES.md §1)
# ---------------------------------------------------------------------------
_ATTR_VALUE = T.StructType(
    [
        T.StructField("stringValue", T.StringType(), True),
        T.StructField("intValue", T.StringType(), True),  # OTLP JSON encodes int64 as string
        T.StructField("doubleValue", T.DoubleType(), True),
        T.StructField("boolValue", T.BooleanType(), True),
    ]
)

_KEY_VALUE = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", _ATTR_VALUE, True),
    ]
)

_LOG_RECORD = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType(), True),
        T.StructField("observedTimeUnixNano", T.StringType(), True),
        T.StructField("severityText", T.StringType(), True),
        T.StructField("severityNumber", T.IntegerType(), True),
        T.StructField("body", T.StructType([T.StructField("stringValue", T.StringType(), True)]), True),
        T.StructField("traceId", T.StringType(), True),
        T.StructField("spanId", T.StringType(), True),
        T.StructField("attributes", T.ArrayType(_KEY_VALUE), True),
    ]
)

_SCOPE = T.StructType(
    [
        T.StructField("name", T.StringType(), True),
        T.StructField("version", T.StringType(), True),
        T.StructField("attributes", T.ArrayType(_KEY_VALUE), True),
    ]
)

_SCOPE_LOGS = T.StructType(
    [
        T.StructField("scope", _SCOPE, True),
        T.StructField("logRecords", T.ArrayType(_LOG_RECORD), True),
    ]
)

_RESOURCE = T.StructType([T.StructField("attributes", T.ArrayType(_KEY_VALUE), True)])

_RESOURCE_LOGS = T.StructType(
    [
        T.StructField("resource", _RESOURCE, True),
        T.StructField("scopeLogs", T.ArrayType(_SCOPE_LOGS), True),
    ]
)

OTLP_ENVELOPE_SCHEMA = T.StructType(
    [T.StructField("resourceLogs", T.ArrayType(_RESOURCE_LOGS), True)]
)

# Driver-generated relational test tables (TESTDATA.md / FIXTURES.md §4)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
