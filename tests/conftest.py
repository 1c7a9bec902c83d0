from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_audio_classification_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    # Whole-stage codegen OFF for the test session only (r11): at
    # sf0.001 every query's wall is dominated by the per-plan Janino
    # compile, not by data; interpreted execution is semantics-
    # identical and cuts the suite ~25% so the driver's pytest budget
    # fits (VERIFY_r10 tests_ok:false was a timeout). Product sessions
    # (bench.py, check_oracle.py, the driver) keep codegen ON — tests
    # that assert codegen shape re-enable it locally (test_plans.py).
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _clear_cache_between_modules():
    """Operators persist/localCheckpoint shared frames inside query fns
    and tests never unpersist; across ~600 tests the session-scoped
    CacheManager accumulates hundreds of cached relations, and EVERY
    subsequent action pays a plan-vs-every-cache-entry lookup. Clearing
    per module keeps that lookup bounded (r11 suite-runtime fix)."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.catalog.clearCache()


@pytest.fixture
def job_group(spark):
    """``with job_group(name) as jobs:`` runs the block's Spark jobs
    under job group ``name``; ``jobs()`` is how many it has started so
    far. The status store hears of a job through the listener bus, so
    ``jobs()`` drains it first."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def group(name):
        def jobs():
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(name))

        sc.setJobGroup(name, name)
        try:
            yield jobs
        finally:
            sc._jsc.clearJobGroup()

    return group


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
