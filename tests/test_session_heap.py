"""Host-sized defaults of `get_spark`: the driver heap is min(48g, 3/8 of
physical RAM), with `QSE_SPARK_DRIVER_MEM` as the override, and shuffle/spill
go under the temp dir, with `QSE_LOCAL_DIR` as the override. No Spark session
is started."""

from __future__ import annotations

import os

import pytest

from qse_spark import session

PAGE = 4096
GIB = 1024 ** 3


def _fake_ram(monkeypatch, total_bytes):
    pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": total_bytes // PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


@pytest.mark.parametrize("ram_gib, expected", [(128, "49152m"),
                                               (16, "6144m"),
                                               (512, "49152m")])
def test_default_heap_is_three_eighths_of_ram_capped_at_48g(
        monkeypatch, ram_gib, expected):
    monkeypatch.delenv("QSE_SPARK_DRIVER_MEM", raising=False)
    _fake_ram(monkeypatch, ram_gib * GIB)
    assert session.driver_memory() == expected


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("QSE_SPARK_DRIVER_MEM", "4g")
    _fake_ram(monkeypatch, 128 * GIB)
    assert session.driver_memory() == "4g"


def _capture_conf(monkeypatch):
    conf = {}

    class _Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            conf[k] = v
            return self

        def getOrCreate(self):
            return None

    class _Session:
        builder = _Builder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    return conf


def test_get_spark_passes_default_heap(monkeypatch):
    conf = _capture_conf(monkeypatch)
    monkeypatch.delenv("QSE_SPARK_DRIVER_MEM", raising=False)
    _fake_ram(monkeypatch, 128 * GIB)
    session.get_spark(master="local[2]")
    assert conf["spark.driver.memory"] == "49152m"


def test_default_local_dir_is_under_tempdir_not_tmpfs(monkeypatch, tmp_path):
    conf = _capture_conf(monkeypatch)
    monkeypatch.delenv("QSE_LOCAL_DIR", raising=False)
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path))
    session.get_spark(master="local[2]")
    assert conf["spark.local.dir"] == str(tmp_path / "qse-spark-local")


def test_local_dir_env_override_wins(monkeypatch, tmp_path):
    conf = _capture_conf(monkeypatch)
    monkeypatch.setenv("QSE_LOCAL_DIR", str(tmp_path / "mine"))
    session.get_spark(master="local[2]")
    assert conf["spark.local.dir"] == str(tmp_path / "mine")
