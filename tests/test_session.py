"""Host-derived session defaults: the test suite must start on whatever
machine it runs on, so the default driver heap (pinned with -Xms) has to
fit in physical RAM and the default parallelism in the usable cores."""

import os

from migdar_data_pipelines_spark.session import host_cpus, host_driver_mem


def test_default_heap_fits_physical_ram():
    mem = host_driver_mem()
    assert mem.endswith("m")
    heap_bytes = int(mem[:-1]) << 20
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap_bytes <= physical // 2 + (1 << 20)
    assert heap_bytes <= 24 << 30


def test_default_cpus_are_usable_cores():
    assert 1 <= host_cpus() <= os.cpu_count()
