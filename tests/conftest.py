"""Shared pytest fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import json
import os
import uuid
from pathlib import Path

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


@pytest.fixture
def landed():
    """``landed(root) -> (rows, progress)``: every parquet row under
    ``root`` keyed by its directory relative to ``root``, plus the
    ingest watermark at ``root/state/progress.json`` — what a
    crash-replay of a streaming loop must leave identical."""
    import pyarrow.parquet as pq

    def read(root):
        root = Path(root)
        rows: dict[str, list[str]] = {}
        for f in root.rglob("*.parquet"):
            rows.setdefault(str(f.parent.relative_to(root)), []).extend(
                repr(sorted(r.items())) for r in pq.read_table(f).to_pylist()
            )
        progress = json.loads((root / "state" / "progress.json").read_text())
        return {k: sorted(v) for k, v in rows.items()}, progress

    return read


@pytest.fixture
def replays_identically(spark, landed):
    """``replays_identically(root, step, b0, b1)``: apply two batches
    of ``step`` with state under ``root/state``, then replay batch 1
    twice — once committed (skipped whole) and once half-applied (its
    scopes landed, the watermark rewound to batch 0) — and assert each
    replay leaves the same rows and progress."""
    from kinesis_vcr_spark import statefs
    from kinesis_vcr_spark.streaming import ingest

    def run(root, step, b0, b1):
        state = f"{root}/state"
        ingest.apply(b0, 0, state, step)
        after_b0 = ingest.read_progress(state, spark)
        ingest.apply(b1, 1, state, step)
        expected = landed(root)
        ingest.apply(b1, 1, state, step)
        assert landed(root) == expected
        statefs.write_json_state(spark, f"{state}/progress.json", after_b0)
        ingest.apply(b1, 1, state, step)
        assert landed(root) == expected
        return expected

    return run
