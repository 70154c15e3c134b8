from __future__ import annotations

import contextlib
import itertools
import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pgvecto_rs_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("pgvecto-rs-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_JOB_GROUPS = itertools.count()


class JobCount:
    """Spark jobs launched in one job group; ``n`` reads the status
    tracker, so it is live inside the block and final after it."""

    def __init__(self, sc, group: str):
        self._sc = sc
        self.group = group

    @property
    def n(self) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(self.group))


@contextlib.contextmanager
def count_jobs(spark):
    """Count the Spark jobs the block launches from this thread::

        with count_jobs(spark) as jobs:
            df.collect()
        assert jobs.n <= 2

    The block runs in its own job group; the thread's previous group
    is restored on exit."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_JOB_GROUPS)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield JobCount(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
