"""Session defaults that are decided before any JVM starts."""

from __future__ import annotations

import pytest

from data_lake_construction_and_querying_with_pyspark_spark import session


@pytest.mark.parametrize(
    "physical_mb, want",
    [(15 * 1024, "7680m"), (32 * 1024, "16384m"), (128 * 1024, "16384m")],
)
def test_default_driver_memory_is_capped_at_half_of_ram(monkeypatch, physical_mb, want):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session, "_physical_memory_mb", lambda: physical_mb)
    assert session.default_driver_memory() == want


def test_driver_memory_env_overrides_the_cap(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2048m")
    monkeypatch.setattr(session, "_physical_memory_mb", lambda: 15 * 1024)
    assert session.default_driver_memory() == "2048m"
