"""Shared fixtures: one local SparkSession per test run."""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("peps-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def run_in_job_group(spark):
    """``run(group, fn)`` calls ``fn()`` under job group ``group`` and
    returns ``(jobs, ungrouped)``: the group's job ids, and the ids of
    jobs that ran with no job group meanwhile (work that lost the
    caller's local properties, e.g. on a plain thread pool)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(group, fn):
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        ungrouped = set(tracker.getJobIdsForGroup(None)) - before
        return sorted(tracker.getJobIdsForGroup(group)), sorted(ungrouped)

    return run
