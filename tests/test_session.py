"""Session defaults derived from the host, and the zip-import guard (no JVM)."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from name_matching_spark.session import default_driver_memory, guard_zip_invalidation


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


def test_guard_zip_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    if sys.version_info >= (3, 13):
        pytest.skip("the stdlib method re-reads lazily from 3.13 on")
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
    )

    guard_zip_invalidation()
    guarded = zipimport.zipimporter.invalidate_caches
    importer.invalidate_caches()  # not in sys.path_importer_cache: this read stamps it
    reads.clear()
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("m1") is not None

    # a changed archive is re-read and its new module found
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("m1.py", "X = 1\n")
        zf.writestr("m2.py", "Y = 2\n")
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert importer.find_spec("m2") is not None

    # a removed archive empties the file table, as the stdlib method does;
    # moved back with the same stamp, it is read again
    moved = tmp_path / "away.zip"
    os.replace(archive, moved)
    importer.invalidate_caches()
    assert importer._files == {}
    os.replace(moved, archive)
    importer.invalidate_caches()
    assert importer.find_spec("m2") is not None

    # idempotent: a second install does not wrap the method again
    guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is guarded
