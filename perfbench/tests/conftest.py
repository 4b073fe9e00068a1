from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Python workers started by the JVM import the package from here
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH])
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from autovalidate_backend_api_spark.session import build_session

    s = build_session(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s
    s.stop()
