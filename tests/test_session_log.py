"""`get_spark` logs its derived config once per process and warns when
the input-size probe reads 0 bytes. The builder is stubbed, so no
session is created and the shared test session keeps its config."""

from __future__ import annotations

import logging
from types import SimpleNamespace

from data_lakes_tp2_student_spark import session


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        return self

    def appName(self, name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
        )


def _records(caplog, level):
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == "spark_graft" and r.levelno == level
    ]


def test_get_spark_logs_config_once_and_warns_on_empty_probe(
    tmp_path, monkeypatch, caplog
):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "_config_logged", False)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    for var in (
        "SPARK_SHUFFLE_PARTITIONS",
        "SPARK_FILES_MAX_PARTITION_BYTES",
        "SPARK_DRIVER_MEMORY",
    ):
        monkeypatch.delenv(var, raising=False)
    caplog.set_level(logging.INFO, logger="spark_graft")

    session.get_spark(cpus=8)
    (warning,) = _records(caplog, logging.WARNING)
    assert "0 parquet bytes" in warning and str(tmp_path) in warning
    (info,) = _records(caplog, logging.INFO)
    # today's fallback values: the floors of both derivations
    assert builder.conf["spark.sql.shuffle.partitions"] == "4"
    assert builder.conf["spark.sql.files.maxPartitionBytes"] == str(16 << 20)
    for part in (
        "cores=8",
        "probed_bytes=0",
        f"probe_dir={tmp_path}",
        "shuffle_partitions=4",
        f"maxPartitionBytes={16 << 20}",
        "driver_memory=16g",
    ):
        assert part in info

    caplog.clear()
    session.get_spark(cpus=8)  # once per process
    assert not _records(caplog, logging.INFO)
    assert not _records(caplog, logging.WARNING)

    # a probe that finds bytes logs the config without a warning
    (tmp_path / "t.parquet").write_bytes(b"x" * 1000)
    monkeypatch.setattr(session, "_config_logged", False)
    session.get_spark(cpus=8)
    assert not _records(caplog, logging.WARNING)
    (info,) = _records(caplog, logging.INFO)
    assert "probed_bytes=1000" in info
