"""SparkSession defaults that depend on the host."""

from __future__ import annotations

import os

from data_ingestion_pipeline_spark import session


def test_default_driver_memory_fits_physical_ram():
    """local[N] runs the whole engine in one JVM: its default heap must
    leave room below physical memory (a swap-less host OOM-kills a JVM
    whose heap outgrows RAM) and never exceed 16g."""
    value = session._default_driver_memory()
    assert value.endswith("m")
    heap = int(value[:-1]) * 2**20
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert heap <= ram // 2
    assert heap <= 16 * 2**30
