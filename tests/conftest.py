from __future__ import annotations

import os

import pytest

from autovalidate_backend_api_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    # one local core per usable CPU: more threads than cores only
    # time-slice the same CPUs
    cores = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = build_session(app_name="tests", master=f"local[{cores}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
