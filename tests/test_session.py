"""Session defaults: the local-mode driver heap is sized from the host."""

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
