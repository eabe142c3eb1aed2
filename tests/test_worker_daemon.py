"""The engine's Python-worker daemon: local sessions fork their workers
from ``bear_spark.worker_daemon``, which stops the per-task re-read of
Spark's own zip archives but still re-reads every other archive."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

import bear_spark.session as session_mod

RESULT_SCHEMA = (
    "daemon_file string, spark_archives long, spark_rereads long, "
    "outside_rereads long"
)


def test_local_session_workers_skip_spark_archive_rereads(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "bear_spark.worker_daemon"
    )

    # defined here so cloudpickle ships it by value to the workers
    def _probe_importers(batches):
        """Runs inside a Python worker: report which daemon patched the zip
        importer, and which archives ``importlib.invalidate_caches`` re-reads."""
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        home = os.path.realpath(os.environ["SPARK_HOME"]) + os.sep
        tmp = tempfile.mkdtemp(prefix="bear_outside_")
        outside = os.path.join(tmp, "bear_outside_probe.zip")
        with zipfile.ZipFile(outside, "w") as zf:
            zf.writestr("bear_outside_probe.py", "X = 1\n")
        sys.path.append(outside)
        importlib.import_module("bear_outside_probe")  # gives the zip an importer

        reread = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: reread.append(archive) or read_directory(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
            sys.path.remove(outside)
            sys.modules.pop("bear_outside_probe", None)
            sys.path_importer_cache.pop(outside, None)
            shutil.rmtree(tmp)

        spark_archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and os.path.realpath(f.archive).startswith(home)
        }
        yield pd.DataFrame({
            "daemon_file": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
            "spark_archives": [len(spark_archives)],
            "spark_rereads": [sum(a in spark_archives for a in reread)],
            "outside_rereads": [reread.count(outside)],
        })

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(_probe_importers, RESULT_SCHEMA)
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.daemon_file.endswith("bear_spark/worker_daemon.py"), r
        assert r.spark_archives > 0, r  # pyspark.zip / py4j / spark-core jar
        assert r.spark_rereads == 0, r
        assert r.outside_rereads == 1, r


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.mark.parametrize(
    "master, engine_daemon",
    [
        ("local[2]", True),
        ("local", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://host:7077", False),
    ],
)
def test_only_local_masters_use_engine_daemon(monkeypatch, master, engine_daemon):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session_mod, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session_mod, "_engine_daemon_importable", lambda: True)
    monkeypatch.setenv("SPARK_GRAFT_MASTER", master)
    session_mod.get_spark(cores=2)
    assert builder.conf["spark.master"] == master
    if engine_daemon:
        assert builder.conf["spark.python.daemon.module"] == "bear_spark.worker_daemon"
    else:
        assert "spark.python.daemon.module" not in builder.conf


def test_engine_daemon_importable_follows_the_jvm_env(spark, monkeypatch):
    root = session_mod._PACKAGE_ROOT
    # this session's JVM was launched by get_spark with the root on its path
    assert session_mod._engine_daemon_importable()

    jvm_env = {"PYTHONPATH": "/elsewhere"}
    fake = SimpleNamespace(
        jvm=SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(
            System=SimpleNamespace(getenv=jvm_env.get)
        )))
    )
    monkeypatch.setattr(session_mod.SparkContext, "_gateway", fake)
    assert not session_mod._engine_daemon_importable()
    jvm_env["PYTHONPATH"] = os.pathsep.join(["/elsewhere", root])
    assert session_mod._engine_daemon_importable()

    # no JVM yet: the one about to launch inherits the root on PYTHONPATH
    monkeypatch.setattr(session_mod.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    assert session_mod._engine_daemon_importable()
    assert os.environ["PYTHONPATH"] == os.pathsep.join([root, "/elsewhere"])

    # spark-submit already launched the JVM with its own env
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    assert not session_mod._engine_daemon_importable()
    assert os.environ["PYTHONPATH"] == "/elsewhere"
