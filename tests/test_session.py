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
