"""The worker daemon that skips re-reading unchanged zip archives on
every task (raster_tools_spark/_pydaemon.py) and the session config
that selects it."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from raster_tools_spark import _pydaemon, session

PATCHED = sys.version_info < (3, 12)


def test_executor_workers_run_the_engine_daemon(spark):
    def owner(batches):
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pd.DataFrame({"src": [os.path.basename(fn.__code__.co_filename)]})

    got = {r.src for r in spark.range(0, 8, numPartitions=4)
           .mapInPandas(owner, "src string").collect()}
    assert got == ({"_pydaemon.py"} if PATCHED else {"<frozen zipimport>"})


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/mod.py", f"VALUE = {value!r}\n")


def _import_value():
    for name in ("zpkg.mod", "zpkg"):
        sys.modules.pop(name, None)
    return importlib.import_module("zpkg.mod").VALUE


@pytest.mark.skipif(not PATCHED, reason="CPython >= 3.12 is already lazy")
def test_rewritten_zip_is_reread_unchanged_zip_is_not(tmp_path, monkeypatch):
    # restore the stock method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _pydaemon.install()
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive)
                        or stock_read(archive))

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "old")
    monkeypatch.syspath_prepend(archive)
    try:
        assert _import_value() == "old"

        importlib.invalidate_caches()  # first call records the stamp
        reads.clear()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, "new and longer")
        importlib.invalidate_caches()
        # one re-read, shared by the root and the zpkg/ importer
        assert reads.count(archive) == 1
        assert _import_value() == "new and longer"
    finally:
        for name in ("zpkg.mod", "zpkg"):
            sys.modules.pop(name, None)
        for path in list(sys.path_importer_cache):
            if path.startswith(archive):
                del sys.path_importer_cache[path]


def _options_of(monkeypatch, master):
    """get_spark's builder options for ``master``, without a JVM."""
    def fake_get_or_create(builder):
        return types.SimpleNamespace(
            options=dict(builder._options),
            sparkContext=types.SimpleNamespace(setLogLevel=lambda _: None),
        )

    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        fake_get_or_create)
    return session.get_spark(master=master).options


def test_daemon_module_only_on_local_masters(monkeypatch):
    key = "spark.python.daemon.module"
    for master in ("local", "local[2]", "local[4,2]"):
        opts = _options_of(monkeypatch, master)
        assert opts[key] == "raster_tools_spark._pydaemon", master
    for master in ("spark://head:7077", "yarn", "local-cluster[2,1,1024]"):
        assert key not in _options_of(monkeypatch, master), master


def test_driver_memory_defaults_to_half_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    mem = _options_of(monkeypatch, "local[2]")["spark.driver.memory"]
    assert mem.endswith("m") and 0 < int(mem[:-1]) <= 24 * 1024
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal:"))
                       .split()[1])
    assert int(mem[:-1]) <= total_kb // 2048
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert _options_of(monkeypatch, "local[2]")["spark.driver.memory"] == "3g"
