"""session.get_spark's driver heap default: derived from physical memory, so
a heap never outgrows the machine it runs on."""

from __future__ import annotations

import os

from demo_otel_parquet_antalya_spark import session


def test_default_driver_memory_is_half_of_physical_memory(monkeypatch):
    page = 4096
    for phys_gib, want in ((15.6, "7g"), (64, "32g"), (1.5, "1g")):
        sizes = {"SC_PHYS_PAGES": int(phys_gib * 2**30) // page, "SC_PAGE_SIZE": page}
        monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
        assert session._default_driver_memory() == want, phys_gib


def test_session_heap_follows_the_override_else_the_default(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or session._default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_local_session_lists_explicit_paths_on_the_driver(spark, tmp_path):
    """A local session reads 40 explicit file paths with no Spark job: past
    32 paths Spark's default would list them in a job of 40 tasks, which in
    local mode run inside the driver anyway. Cluster masters keep it."""
    from tests.test_http_sql import _newest_job_id

    out = str(tmp_path / "many")
    spark.range(0, 400).repartition(40).write.parquet(out)
    files = sorted(str(p) for p in tmp_path.glob("many/*.parquet"))
    assert len(files) == 40
    before = _newest_job_id(spark)
    df = spark.read.schema("id long").parquet(*files)
    assert _newest_job_id(spark) == before
    assert df.count() == 400
    assert session._listing_conf("spark://head:7077") == {}
    assert session._listing_conf("local-cluster[2,1,1024]") == {}


def test_streaming_aqe_warning_is_silenced(spark):
    """Every streaming start logs that AQE is off for the stream; the engine
    session sets that logger to ERROR so ingest cycles stay quiet."""
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    level = log4j.LogManager.getLogger(session._STREAMING_AQE_LOGGER).getLevel()
    assert level.toString() == "ERROR"
