from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from aeon_mecha_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: (result of ``fn()``, Spark jobs it started),
    counted through a fresh job group."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{next(_job_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"
