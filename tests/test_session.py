"""Session defaults derived from the host (no JVM)."""

from __future__ import annotations

from name_matching_spark.session import default_driver_memory


def test_default_driver_memory_from_meminfo():
    # a quarter of MemTotal in MiB: a 15.7 GiB host gets a ~3.9 GiB heap
    host = "MemTotal:       16479424 kB\nMemFree:        14000000 kB\n"
    assert default_driver_memory(host) == "4023m"
    # MemTotal need not be the first line
    assert default_driver_memory("MemFree: 1 kB\nMemTotal: 8388608 kB\n") == "2048m"
    # capped at 48g on large hosts, at least 1g on tiny ones
    assert default_driver_memory("MemTotal: 1056964608 kB\n") == "49152m"
    assert default_driver_memory("MemTotal: 1048576 kB\n") == "1024m"
    # no MemTotal line (non-Linux host): fixed fallback
    assert default_driver_memory("") == "4g"
