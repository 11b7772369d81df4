"""Session sizing, session conf and the Python worker daemon
(``flink_streaming_2_10_spark.worker_daemon``)."""

from __future__ import annotations

import importlib
import os
import re
import sys
import zipfile
import zipimport

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession, functions as F

from flink_streaming_2_10_spark import catalog, session, worker_daemon
from flink_streaming_2_10_spark.session import (
    RUNTIME_CONF,
    configure,
    default_driver_memory,
    get_spark,
)

GiB = 2**30


def test_default_driver_memory_is_half_the_host_within_1g_to_16g():
    assert default_driver_memory(15 * GiB + 600 * 2**20) == "7g"
    assert default_driver_memory(16 * GiB) == "8g"
    assert default_driver_memory(64 * GiB) == "16g"
    assert default_driver_memory(256 * GiB) == "16g"
    assert default_driver_memory(GiB) == "1g"
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(default_driver_memory()[:-1]) * GiB <= max(physical // 2, GiB)


def test_get_spark_defaults_to_the_cores_this_process_may_use(monkeypatch):
    """Without ``cpus`` or ``$SPARK_GRAFT_CPUS`` the session gets one
    task slot and one shuffle partition per usable core; the knob still
    wins. The builder's options are read back, so no JVM starts."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = len(os.sched_getaffinity(0))
    options = get_spark()
    assert options["spark.master"] == f"local[{cores}]"
    assert options["spark.sql.shuffle.partitions"] == str(cores)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert get_spark()["spark.master"] == "local[3]"
    assert get_spark(cpus=2)["spark.master"] == "local[2]"


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


def test_configure_raises_on_a_key_it_cannot_set(spark, monkeypatch):
    """A static conf cannot change on a live session, even to its own
    value; configure() must say so rather than leave the session half
    configured."""
    key = "spark.sql.warehouse.dir"
    monkeypatch.setattr(session, "RUNTIME_CONF", {key: spark.conf.get(key)})
    with pytest.raises(AnalysisException, match=key):
        configure(spark)


def test_load_table_configures_a_foreign_session_once(spark, tmp_path, monkeypatch):
    """A session that get_spark did not build (the driver's) gets
    RUNTIME_CONF on its first load_table, enough to read a nanosecond
    events.ts; a cached load does not set it again."""
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), str(tmp_path / "events.parquet"))
    driver = spark.newSession()
    for key in RUNTIME_CONF:
        driver.conf.unset(key)
    assert driver.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"

    calls: list[object] = []

    def spy(target):
        calls.append(target)
        return configure(target)

    monkeypatch.setattr(catalog, "configure", spy)
    events = catalog.load_table(driver, str(tmp_path), "events")
    assert calls == [driver]
    assert {key: driver.conf.get(key) for key in RUNTIME_CONF} == RUNTIME_CONF
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert events.count() == 2

    calls.clear()
    assert catalog.load_table(driver, str(tmp_path), "events") is events
    assert calls == []


def test_package_reads_only_the_known_env_knobs():
    """The package's environment surface: adding a knob means editing
    this set."""
    package = os.path.dirname(session.__file__)
    names = set()
    for root, _, files in os.walk(package):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    names.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", f.read()))
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_EXTRA_JARS",
        "SPARK_GRAFT_KAFKA_JARS",
    }
