"""``build_session``'s driver-memory choice (the effective value and the
warning when it exceeds the host's RAM), the allocator environment each
session path hands its Python workers, and the Arrow Java options each
path merges into the caller's JVM options (no JVM is started here)."""

from __future__ import annotations

import importlib.util
import logging
import os
import sys

import pytest

from atr_adaptive_laguerre_spark.engine import session


def _warnings(caplog) -> list[str]:
    return [r.getMessage() for r in caplog.records
            if r.name == session.__name__ and r.levelno == logging.WARNING]


@pytest.fixture(autouse=True)
def host_8g(monkeypatch, caplog):
    monkeypatch.setattr(session, "_mem_total_bytes", lambda: 8 << 30)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    caplog.set_level(logging.WARNING, logger=session.__name__)


def test_default_above_ram_warns_once(caplog):
    assert session._driver_memory(None) == "16g"
    (msg,) = _warnings(caplog)
    assert "spark.driver.memory=16g" in msg and "8192 MiB" in msg


def test_env_then_extra_take_precedence(monkeypatch, caplog):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "4023m")
    assert session._driver_memory(None) == "4023m"
    assert session._driver_memory({"spark.ui.enabled": "false"}) == "4023m"
    assert _warnings(caplog) == []

    assert session._driver_memory({"spark.driver.memory": "9g"}) == "9g"
    (msg,) = _warnings(caplog)
    assert "spark.driver.memory=9g" in msg


@pytest.mark.parametrize("value, warns", [
    ("8g", False), ("8193m", True), ("8192", False), ("8193", True),
    ("8388608k", False), ("8388609KB", True), ("9000000000b", True),
    ("1t", True), ("1.5g", False), ("lots", False),
])
def test_units_and_unparsed_values(value, warns, caplog):
    """A bare number is MiB, as Spark reads ``spark.driver.memory``; a
    value that does not parse is passed on without a warning."""
    assert session._driver_memory({"spark.driver.memory": value}) == value
    assert len(_warnings(caplog)) == warns


SHIM = "/opt/x/native/bigcache-0123456789ab.so"


def test_worker_env_preloads_shim_and_keeps_caller_settings(monkeypatch):
    monkeypatch.setattr(session, "_bigcache_preload", lambda d=None: SHIM)
    monkeypatch.setenv("MALLOC_ARENA_MAX", "2")
    monkeypatch.setenv("LD_PRELOAD", "libother.so")
    env = session.worker_env()
    assert env == {**session.MALLOC_ENV, "MALLOC_ARENA_MAX": "2",
                   "LD_PRELOAD": f"{SHIM}:libother.so"}

    monkeypatch.setenv("LD_PRELOAD", env["LD_PRELOAD"])
    assert "LD_PRELOAD" not in session.worker_env()
    monkeypatch.setattr(session, "_bigcache_preload", lambda d=None: None)
    monkeypatch.delenv("LD_PRELOAD")
    assert "LD_PRELOAD" not in session.worker_env()


class _StopBeforeJvm(Exception):
    pass


class _Builder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        raise _StopBeforeJvm


FLAGS = ("-Darrow.enable_unsafe_memory_access=true "
         "-Darrow.enable_null_check_for_get=false")


def test_build_session_merges_arrow_options_with_callers(monkeypatch):
    """``extra`` is applied last, so a caller's ``extraJavaOptions`` (as
    perfbench passes ``-Djava.io.tmpdir``) must be merged with the Arrow
    options, not replace them or be replaced."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(session, "worker_env", lambda: {})
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    builder = _Builder()
    monkeypatch.setattr(SparkSession, "builder", builder)
    with pytest.raises(_StopBeforeJvm):
        session.build_session(master="local[1]", extra={
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/t",
            "spark.ui.enabled": "true"})
    assert builder.conf["spark.driver.extraJavaOptions"] == (
        f"-Djava.io.tmpdir=/t {FLAGS}")
    assert builder.conf["spark.executor.extraJavaOptions"] == FLAGS
    assert builder.conf["spark.ui.enabled"] == "true"


class _Conf:
    """``SparkConf`` as spark-submit loads it, with a caller's
    ``--conf spark.executor.extraJavaOptions``."""

    def get(self, key, default=None):
        return {"spark.executor.extraJavaOptions": "-Dcaller=1"}.get(
            key, default)


def test_submit_job_starts_workers_under_worker_env(monkeypatch):
    """spark-submit starts the JVM before ``tools/submit_job.py`` runs, so
    the script must pass the allocator environment to the Python workers
    as ``spark.executorEnv.*``, with the shim from its checkout's
    ``native/`` (the package itself may be imported from the zip), and
    the Arrow options to the executors after the caller's own."""
    import pyspark
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "submit_job.py")
    spec = importlib.util.spec_from_file_location("submit_job", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    dirs = []
    monkeypatch.setattr(session, "_bigcache_preload",
                        lambda d=None: dirs.append(d) or SHIM)
    monkeypatch.delenv("LD_PRELOAD", raising=False)
    builder = _Builder()
    monkeypatch.setattr(SparkSession, "builder", builder)
    monkeypatch.setattr(pyspark, "SparkConf", _Conf)
    monkeypatch.setattr(SparkContext, "_ensure_initialized", lambda: None)
    monkeypatch.setattr(sys, "argv", ["submit_job.py", "--input", "in",
                                      "--output", "out", "--manifest", "m"])
    with pytest.raises(_StopBeforeJvm):
        job.main()
    assert dirs == [job.NATIVE_DIR]
    assert os.path.exists(os.path.join(job.NATIVE_DIR, "bigcache.c"))
    want = session.worker_env()
    assert want["LD_PRELOAD"] == SHIM
    assert builder.conf == {
        **{f"spark.executorEnv.{k}": v for k, v in want.items()},
        "spark.executor.extraJavaOptions": f"-Dcaller=1 {FLAGS}"}
