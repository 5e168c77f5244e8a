from __future__ import annotations

import contextlib
import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from demo_otel_parquet_antalya_spark.session import get_spark

    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture
def broadcast_disabled(spark):
    """Context manager that runs its block with
    spark.sql.autoBroadcastJoinThreshold=-1 and restores the old value.
    The graph loops derive a zero broadcast-state limit from it, so this
    is how a test forces their partitioned-state path."""

    @contextlib.contextmanager
    def disabled():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return disabled
