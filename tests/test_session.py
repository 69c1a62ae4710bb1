"""Session defaults: the local-mode driver heap is sized from the host."""

import os
import sys
import zipfile
import zipimport

import pytest

from big_data_analysis_for_stock_market_data_spark import session


def _fake_sysconf(phys_bytes: int):
    page = 4096

    def sysconf(name):
        return {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}[name]

    return sysconf


@pytest.mark.parametrize(
    "phys_gib, expected",
    [(15, "9g"), (40, "24g"), (256, "24g"), (1, "1g")],
)
def test_driver_memory_sized_from_physical_memory(monkeypatch, phys_gib,
                                                  expected):
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(phys_gib << 30))
    assert session.default_driver_memory() == expected


def test_driver_memory_falls_back_to_cap_when_unknown(monkeypatch):
    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(session.os, "sysconf", unknown)
    assert session.default_driver_memory() == "24g"


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        class _Ctx:
            def setLogLevel(self, _level):
                pass

        class _Spark:
            sparkContext = _Ctx()

        return _Spark()


@pytest.mark.parametrize("configs, expected", [
    (None, "9g"),
    ({"spark.driver.memory": "3g"}, "3g"),
])
def test_get_session_driver_memory_default_and_override(monkeypatch,
                                                        configs, expected):
    monkeypatch.setattr(session.os, "sysconf", _fake_sysconf(15 << 30))
    builder = _RecordingBuilder()

    class _Session:
        pass

    _Session.builder = builder
    monkeypatch.setattr(session, "SparkSession", _Session)
    session.get_session(master="local[2]", configs=configs)
    assert builder.conf["spark.driver.memory"] == expected


def test_daemon_module_for_local_sessions_only(monkeypatch, tmp_path):
    root = session._PACKAGE_ROOT
    daemon = "big_data_analysis_for_stock_market_data_spark.daemon"
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(root)
    assert session.python_daemon_module("local[2]") == daemon
    assert session.python_daemon_module(None) == daemon
    assert session.python_daemon_module("spark://host:7077") is None
    monkeypatch.setenv("SPARK_MASTER", "local[2]")
    assert session.python_daemon_module(None) is None
    monkeypatch.delenv("SPARK_MASTER")
    # a worker started elsewhere cannot import the package ...
    monkeypatch.chdir(tmp_path)
    assert session.python_daemon_module("local[2]") is None
    # ... unless PYTHONPATH carries its root
    monkeypatch.setenv("PYTHONPATH", f"{tmp_path}{os.pathsep}{root}")
    assert session.python_daemon_module("local[2]") == daemon


def test_get_session_sets_daemon_module(monkeypatch, tmp_path):
    monkeypatch.delenv("PYTHONPATH", raising=False)

    class _Session:
        pass

    monkeypatch.setattr(session, "SparkSession", _Session)
    key = "spark.python.daemon.module"
    monkeypatch.chdir(session._PACKAGE_ROOT)
    _Session.builder = builder = _RecordingBuilder()
    session.get_session(master="local[2]")
    assert builder.conf[key] == f"{session.__package__}.daemon"
    monkeypatch.chdir(tmp_path)
    _Session.builder = builder = _RecordingBuilder()
    session.get_session(master="local[2]")
    assert key not in builder.conf


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "X = 1\n")


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ re-reads zip archives lazily")
def test_zip_directory_reread_only_when_archive_changes(monkeypatch, tmp_path):
    from big_data_analysis_for_stock_market_data_spark import daemon

    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["m1.py"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    # restored after the test: install() patches the class
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(daemon, "_stamps", {})
    importer = zipimport.zipimporter(str(archive))
    n = len(reads)
    daemon.install()  # the archive just read counts as read now
    assert zipimport.zipimporter.invalidate_caches is daemon._invalidate_caches
    for _ in range(5):
        importer.invalidate_caches()
    assert len(reads) == n
    assert importer.find_spec("m2") is None
    _write_zip(archive, ["m1.py", "m2.py"])
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == n + 1
    assert importer.find_spec("m2") is not None


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12+ re-reads zip archives lazily")
def test_python_workers_run_engine_daemon(spark):
    import pandas as pd

    from big_data_analysis_for_stock_market_data_spark import daemon

    def probe(batches):
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame(
                {"fn": [f"{fn.__code__.co_filename}:{fn.__qualname__}"]}
            )

    got = {r.fn for r in spark.range(0, 8, 1, 4).mapInPandas(probe, "fn string").collect()}
    assert got == {f"{daemon.__file__}:_invalidate_caches"}
