"""End-to-end record → replay roundtrip (reference Tests 1+2, AWS-free):
streaming ingest into the archive, then batch replay through the
batcher into a collector — byte-identity multiset oracle."""

import base64
from datetime import datetime, timedelta

from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark.config import VcrConfig
from kinesis_vcr_spark.model import RECORD_SCHEMA
from kinesis_vcr_spark.play import replay, replay_batch_plan
from kinesis_vcr_spark.sources.archive import read_archive
from kinesis_vcr_spark.streaming.record import record_stream


def _source_records(spark, tmp_path, payloads):
    base = datetime(2024, 3, 5, 10, 0, 0)
    rows = [
        Row(
            data=p,
            sequence_number=str(i).zfill(20),
            partition_key=f"pk-{i}",
            shard_id="shardId-000000000000",
            arrival_ts=base + timedelta(seconds=i),
        )
        for i, p in enumerate(payloads)
    ]
    src_dir = str(tmp_path / "source")
    # single file = single shard: per-shard order is what the reference
    # preserves within a flushed object (SURVEY.md §1.4)
    spark.createDataFrame(rows, RECORD_SCHEMA).coalesce(1).write.parquet(src_dir)
    return spark.readStream.schema(RECORD_SCHEMA).parquet(src_dir)


def test_record_then_replay_byte_identity(spark, tmp_path):
    """Reference Test 1: N records in → archive → N identical records out."""
    payloads = [bytes([i % 251]) * 1000 for i in range(37)]
    stream = _source_records(spark, tmp_path, payloads)
    cfg = VcrConfig(
        archive_root=str(tmp_path / "bucket"),
        source_stream="events",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    q = record_stream(stream, cfg, available_now=True)
    q.awaitTermination(120)

    # replay window = today (write-date partitioning, processing time)
    now = datetime.utcnow()
    got = read_archive(
        spark, cfg.archive_path, now - timedelta(days=1), now + timedelta(days=1),
        mtime_filter=False,
    )
    replayed = sorted(r["data"] for r in got.collect())
    assert replayed == sorted(payloads)


def test_recorded_lines_are_ordered_base64(spark, tmp_path):
    """Reference Test 2: the flushed object starts with base64 of the
    first record, in ingest order (KinesisRecorderTest.java:188)."""
    payloads = [f"String {i}".encode() for i in range(1, 5)]
    stream = _source_records(spark, tmp_path, payloads)
    cfg = VcrConfig(
        archive_root=str(tmp_path / "bucket2"),
        source_stream="events",
        checkpoint_location=str(tmp_path / "ckpt2"),
    )
    record_stream(stream, cfg, available_now=True).awaitTermination(120)

    import glob

    files = [
        f
        for f in glob.glob(f"{cfg.archive_path}/dt=*/part-*")
        if not f.endswith(".crc")
    ]
    lines = []
    for f in sorted(files):
        with open(f) as fh:
            lines += [ln for ln in fh.read().split("\n") if ln]
    assert lines[0] == base64.b64encode(b"String 1").decode()
    assert sorted(lines) == sorted(base64.b64encode(p).decode() for p in payloads)


def test_replay_batch_plan_obeys_limits(spark):
    """B2 at DataFrame level: 500-record / 1 MB caps hold per batch."""
    df = spark.range(2300).select(
        F.encode(F.lpad(F.col("id").cast("string"), 900, "x"), "utf-8").alias("data")
    )
    plan = replay_batch_plan(df.coalesce(2), max_count=500, max_bytes=1_000_000)
    rows = plan.collect()
    assert sum(r["record_count"] for r in rows) == 2300
    assert all(r["record_count"] <= 500 for r in rows)
    assert all(r["byte_count"] <= 1_000_000 for r in rows)


def test_replay_batch_plan_matches_iter_batches(spark):
    """The vectorized searchsorted plan must reproduce iter_batches'
    greedy fold exactly — byte-cap flushes, count-cap flushes, oversize
    drops interleaved, and the final partial batch (r06: the plan path
    ships only octet_length to Python, so its equivalence to the
    payload-driven generator is load-bearing)."""
    import random

    from kinesis_vcr_spark.operators.batching import iter_batches

    rng = random.Random(99)
    sizes = [rng.choice([1, 7, 40, 99, 100, 101, 250]) for _ in range(907)]
    sizes[13] = 600   # oversize → dropped
    sizes[500] = 600  # oversize mid-stream
    payloads = [b"x" * s for s in sizes]
    expected = [
        (len(b), sum(len(p) for p in b))
        for b in iter_batches(iter(payloads), max_count=7, max_bytes=500)
    ]
    df = spark.createDataFrame(
        [(p,) for p in payloads], "data binary"
    ).coalesce(1)
    rows = (
        replay_batch_plan(df, max_count=7, max_bytes=500)
        .orderBy("batch_index")
        .collect()
    )
    got = [(r["record_count"], r["byte_count"]) for r in rows]
    assert got == expected


def test_replay_foreachpartition_writer(spark, tmp_path):
    """replay() drives a per-partition writer over the pruned scan, in
    one job of one stage: the scan splits are coalesced into at most
    ``parallelism`` writer partitions, with no shuffle. The second
    archive has more scan splits than ``parallelism``."""
    import uuid

    from kinesis_vcr_spark.sources.archive import write_archive
    from tests.test_archive import make_records

    start, end = datetime(2024, 3, 5), datetime(2024, 3, 6)
    one_file = str(tmp_path / "arc")
    write_archive(make_records(spark, n=25, day="2024-03-05"), one_file)
    many_files = str(tmp_path / "arc16")
    write_archive(
        make_records(spark, n=40, day="2024-03-05").repartition(16), many_files
    )
    splits = read_archive(spark, many_files, start, end, mtime_filter=False)
    assert splits.rdd.getNumPartitions() > 3

    sc = spark.sparkContext
    for path, n in ((one_file, 25), (many_files, 40)):
        out_dir = tmp_path / f"collected-{uuid.uuid4().hex}"
        out_dir.mkdir()
        out = str(out_dir)

        def writer(rows, out=out):
            import os
            import uuid

            from pyspark import TaskContext

            n = sum(1 for _ in rows)
            pid = TaskContext.get().partitionId()
            with open(os.path.join(out, f"{uuid.uuid4()}.cnt"), "w") as fh:
                fh.write(f"{pid} {n}")

        group = f"replay-shape-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = replay(
                spark, path, start, end, writer, parallelism=3,
                mtime_filter=False,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 1
        stages = sc.statusTracker().getJobInfo(jobs[0]).stageIds
        assert len(stages) == 1
        assert sc.statusTracker().getStageInfo(stages[0]).numTasks <= 3

        calls = [f.read_text().split() for f in out_dir.glob("*.cnt")]
        assert sum(int(c) for _, c in calls) == n == result.records_attempted
        assert 1 <= len({pid for pid, _ in calls}) == len(calls) <= 3


def test_kinesis_reader_options_contract():
    """S1 contract pinned without a live source (VERDICT r02 item 8):
    exact option keys/values the DSv2 reader will receive."""
    import pytest

    from kinesis_vcr_spark.streaming.record import kinesis_reader_options

    assert kinesis_reader_options("my-stream", "us-east-1") == {
        "kinesis.streamName": "my-stream",
        "kinesis.region": "us-east-1",
        "kinesis.startingposition": "LATEST",
    }
    # startingPosition override + extra passthrough options stringify
    got = kinesis_reader_options(
        "s", "eu-west-1", startingPosition="TRIM_HORIZON", maxFetchRate=2,
    )
    assert got["kinesis.startingposition"] == "TRIM_HORIZON"
    assert got["maxFetchRate"] == "2"
    with pytest.raises(ValueError, match="stream_name"):
        kinesis_reader_options("", "us-east-1")
    with pytest.raises(ValueError, match="region"):
        kinesis_reader_options("s", "")
    with pytest.raises(ValueError, match="startingPosition"):
        kinesis_reader_options("s", "r", startingPosition="BOGUS")
