"""``build_session``'s driver-memory choice: the effective value and the
warning when it exceeds the host's RAM (no JVM is started here)."""

from __future__ import annotations

import logging

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
