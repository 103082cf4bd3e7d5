"""Session factory defaults."""

from __future__ import annotations

import os

from arrow_parquet_logs_spark import session


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


def test_default_driver_memory_never_exceeds_physical_ram(monkeypatch):
    real_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < _mb(session.default_driver_memory()) <= real_mb
    for phys_mb in (512, 1024, 1536, 15 * 1024, 2**20):
        monkeypatch.setattr(
            os, "sysconf", lambda name, mb=phys_mb: 4096 if name == "SC_PAGE_SIZE" else mb * 256
        )
        got = _mb(session.default_driver_memory())
        assert got <= phys_mb, (phys_mb, got)
        assert got == min(phys_mb, max(1024, phys_mb // 2)), (phys_mb, got)


def test_session_heap_is_env_or_derived_default(spark):
    want = os.environ.get("SPARK_DRIVER_MEMORY") or session.default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_session_turns_off_per_call_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
