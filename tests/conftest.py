from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from __spark_entry__ import PINNED_CONFS
from breweries_etl_spark.functions import lifecycle
from breweries_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _restore_pinned_confs():
    """Building through ``queries()`` pins ``PINNED_CONFS`` on the shared
    session; put back what the session had before the test, so no test
    sees another's partition count or AQE setting."""
    spark = SparkSession.getActiveSession()
    before = {k: spark.conf.get(k) for k in PINNED_CONFS} if spark else {}
    yield
    for k, v in before.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def unreleased():
    """``unreleased(op)(...)`` runs a checkpoint-and-free operator as if it
    were defined ``@lifecycle.operator(release=False)``: it returns the
    lazy plan with its caches handed over, for plan-shape assertions.
    Operators it calls keep their own mode."""
    return lambda op: lifecycle.operator(op.__wrapped__, release=False)


_job_groups = itertools.count()


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(fn)`` runs ``fn()`` in a job group of its own and returns
    ``(fn's result, the number of Spark jobs it launched)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs_in-{next(_job_groups)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        # job-start events reach the status tracker asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
