"""Shared pytest fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import os
import uuid

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from kinesis_vcr_spark.session import get_spark

    spark = get_spark(
        app_name="kinesis_vcr_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (jobs, result)``: the Spark jobs ``fn()``
    launches, counted through a fresh job group."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    return run


@pytest.fixture
def durable(spark, tmp_path):
    """The durable posture for one test: the context checkpoints into
    the yielded directory, and is reset to no checkpoint directory
    afterwards, so later tests (and their job counts) run local."""
    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        yield ckpt
    finally:
        sc._jsc.sc().setCheckpointDir(None)
