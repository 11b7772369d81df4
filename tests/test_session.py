"""Session sizing and the Python worker daemon
(``flink_streaming_2_10_spark.worker_daemon``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from flink_streaming_2_10_spark import worker_daemon
from flink_streaming_2_10_spark.session import default_driver_memory

GiB = 2**30


def test_default_driver_memory_is_half_the_host_within_1g_to_16g():
    assert default_driver_memory(15 * GiB + 600 * 2**20) == "7g"
    assert default_driver_memory(16 * GiB) == "8g"
    assert default_driver_memory(64 * GiB) == "16g"
    assert default_driver_memory(256 * GiB) == "16g"
    assert default_driver_memory(GiB) == "1g"
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory()[:-1]) * GiB <= max(physical // 2, GiB)


def _write_probe_zip(path, value: str) -> None:
    # A package, so two importers (archive root and package dir) share
    # the archive.
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("lazy_zip_probe/__init__.py", "")
        zf.writestr("lazy_zip_probe/mod.py", f"VALUE = {value!r}\n")


@pytest.mark.skipif(
    not (3, 10) <= sys.version_info[:2] < (3, 13),
    reason="the patch applies to CPython 3.10-3.12 zipimport only",
)
def test_lazy_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_probe_zip(archive, "old")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_read_stamps", {})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("lazy_zip_probe.mod").VALUE == "old"
        importers = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) == 2

        # No stamp yet: one read, shared by both importers; then none.
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        # A rewritten archive is read once more, and its new content imports.
        _write_probe_zip(archive, "rewritten")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert all(f._files is zipimport._zip_directory_cache[archive] for f in importers)
        del sys.modules["lazy_zip_probe.mod"]
        assert importlib.import_module("lazy_zip_probe.mod").VALUE == "rewritten"
    finally:
        for name in ("lazy_zip_probe.mod", "lazy_zip_probe"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_workers_run_the_lazy_invalidation(spark):
    """get_spark starts Python workers from the package's daemon, so on
    CPython < 3.13 they invalidate zip caches through it."""

    @F.udf("struct<owner:string, minor:int>")
    def invalidation_owner(_):
        import sys
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__, sys.version_info[1]

    owner, minor = spark.range(1).select(invalidation_owner("id").alias("o")).first()[0]
    expected = "flink_streaming_2_10_spark.worker_daemon" if minor < 13 else "zipimport"
    assert owner == expected
