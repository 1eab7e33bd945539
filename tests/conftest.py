from __future__ import annotations

import datetime as dt
import uuid

import pytest

from ml_feature_store_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mlfs-tests", master="local[4]")
    yield s


def jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group of its own.
    Import it with ``from conftest import jobs_run_by``."""
    sc = spark.sparkContext
    group = f"jobs_run_by_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count gate")
    try:
        fn()
    finally:
        sc.setJobGroup(group + "_done", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture
def feature_df(spark):
    """Canonical fixture (reference tests/test_core.py:35-51): 2 entities,
    3+2 timestamped rows, two feature columns."""
    rows = [
        ("user_1", ts("2024-01-01"), 1.0, 100),
        ("user_1", ts("2024-01-15"), 2.0, 200),
        ("user_1", ts("2024-02-01"), 3.0, 300),
        ("user_2", ts("2024-01-01"), 10.0, 1000),
        ("user_2", ts("2024-01-20"), 20.0, 2000),
    ]
    return spark.createDataFrame(rows, ["entity_id", "timestamp", "feature_a", "feature_b"])


@pytest.fixture
def store(spark):
    from ml_feature_store_spark import FeatureStore

    return FeatureStore(spark, max_versions=5)
