"""The session's default driver heap follows the host. No Spark needed."""

from __future__ import annotations

import os

import pytest

from autovalidate_backend_api_spark.session import driver_memory


@pytest.mark.parametrize(
    "phys_gib,want", [(15, "7g"), (16, "8g"), (48, "24g"), (256, "24g"), (1, "1g")]
)
def test_driver_memory_is_half_the_host_capped(monkeypatch, phys_gib, want):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", conf.__getitem__)
    assert driver_memory() == want


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
