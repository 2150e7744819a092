"""Shared Spark fixtures (one local session for the whole test run)."""

from __future__ import annotations

import os
import sys
import tempfile
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_insurancelake_etl_spark.context import RunContext  # noqa: E402
from aws_insurancelake_etl_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    session = build_session(
        app_name="insurancelake-etl-tests",
        master="local[4]",
        shuffle_partitions=4,
        warehouse_dir=tempfile.mkdtemp(prefix="spark-wh-"),
        extra_confs={"spark.ui.enabled": "false"},
    )
    yield session


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` and returns how many Spark jobs it
    submitted, counted under a job group of its own."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, "count jobs")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture()
def ctx(spark) -> RunContext:
    return RunContext(spark=spark, args={"base_file_name": "testfile.csv", "execution_id": "test"})


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
