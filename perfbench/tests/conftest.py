from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from schemamap_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    s = get_spark("perfbench-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
