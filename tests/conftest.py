from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from schemamap_spark.session import get_spark  # noqa: E402

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("schemamap-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    from schemamap_spark import SchemamapEngine
    from schemamap_spark.catalog import FixtureCatalog

    return SchemamapEngine(spark, FixtureCatalog(spark))


def job_ids_in_group(spark, fn) -> list[int]:
    """The ids of the Spark jobs that `fn()` runs, read by job group."""
    import uuid

    sc = spark.sparkContext
    group = "jobs_probe_" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def jobs_in_group(spark, fn) -> int:
    return len(job_ids_in_group(spark, fn))
