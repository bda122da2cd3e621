"""Manifest writer (K1 completion): seq-range file naming + manifest
table, record→manifest→archive join."""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from kinesis_vcr_spark.config import VcrConfig
from kinesis_vcr_spark.model import MANIFEST_SCHEMA, RECORD_SCHEMA
from kinesis_vcr_spark.sources.archive import parse_seq_range, read_archive
from kinesis_vcr_spark.streaming.record import (
    read_manifest,
    record_stream_with_manifest,
    write_archive_with_manifest,
)
from tests.test_record_replay import _source_records


def test_batch_write_with_manifest(spark, tmp_path):
    payloads = [f"rec-{i}".encode() for i in range(20)]
    base = datetime(2024, 3, 5, 10, 0, 0)
    rows = [
        (p, str(i).zfill(20), f"pk-{i}", f"shard-{i % 3}",
         base + timedelta(seconds=i))
        for i, p in enumerate(payloads)
    ]
    records = spark.createDataFrame(rows, RECORD_SCHEMA)
    archive = str(tmp_path / "arch")
    manifest = str(tmp_path / "manifest")
    write_archive_with_manifest(records, archive, manifest)

    mrows = read_manifest(spark, manifest).collect()
    # one file per (shard_id, dt) GROUP — not per shuffle partition: two
    # shards hashing together must still get separate files, and the
    # shard lives in the path because seq numbers are only unique per
    # shard (ADVICE r02); 3 shards → 3 files today
    assert len(mrows) == 3
    assert {r["shard_id"] for r in mrows} == {f"shard-{i}" for i in range(3)}
    assert sum(r["record_count"] for r in mrows) == 20
    for r in mrows:
        name = os.path.basename(r["file_path"])
        first, last = parse_seq_range(name)
        assert (first, last) == (r["first_seq"], r["last_seq"])
        assert first <= last
        assert os.path.getsize(r["file_path"]) == r["byte_size"]
        # shard dir in the path prevents cross-shard name collisions
        assert f"shard={r['shard_id']}" in r["file_path"]

    # the archive is readable through the standard read path and the
    # manifest's counts reconcile with it
    now = datetime.utcnow()
    got = read_archive(
        spark, archive, now - timedelta(days=1), now + timedelta(days=1),
        mtime_filter=False,
    )
    assert sorted(r["data"] for r in got.collect()) == sorted(payloads)


def test_manifest_no_cross_shard_collision(spark, tmp_path, count_jobs):
    """Two shards with the SAME sequence range on the same day: the
    shard-less '{first}-{last}' name would collide and the second write
    silently overwrote the first (ADVICE r02 — data loss); the per-shard
    dir keeps both. The write takes at most two jobs (shuffle, then
    write; two on the pickled-RDD path it replaced) and its parquet
    schema is MANIFEST_SCHEMA."""
    base = datetime(2024, 3, 5, 10, 0, 0)
    rows = [
        (b"payload-A", "001", "pk-a", "shard-A", base),
        (b"payload-B", "001", "pk-b", "shard-B", base),
    ]
    records = spark.createDataFrame(rows, RECORD_SCHEMA)
    archive = str(tmp_path / "arch")
    manifest = str(tmp_path / "manifest")
    jobs, _ = count_jobs(
        lambda: write_archive_with_manifest(records, archive, manifest)
    )
    assert jobs <= 2
    assert spark.read.parquet(manifest).schema == MANIFEST_SCHEMA

    mrows = read_manifest(spark, manifest).collect()
    assert len(mrows) == 2
    assert len({r["file_path"] for r in mrows}) == 2
    for r in mrows:
        assert (r["first_seq"], r["last_seq"]) == ("001", "001")

    now = datetime.utcnow()
    got = read_archive(
        spark, archive, now - timedelta(days=1), now + timedelta(days=1),
        mtime_filter=False,
    )
    assert sorted(r["data"] for r in got.collect()) == [
        b"payload-A", b"payload-B",
    ]


def test_streaming_record_with_manifest(spark, tmp_path):
    payloads = [f"String {i}".encode() for i in range(1, 8)]
    stream = _source_records(spark, tmp_path, payloads)
    cfg = VcrConfig(
        archive_root=str(tmp_path / "bucket"),
        source_stream="events",
        checkpoint_location=str(tmp_path / "ckpt"),
    )
    manifest = str(tmp_path / "manifest")
    q = record_stream_with_manifest(
        stream, cfg, manifest, available_now=True
    )
    q.awaitTermination(120)

    files = [
        f
        for f in glob.glob(f"{cfg.archive_path}/dt=*/shard=*/*")
        if not os.path.basename(f).startswith((".", "_"))
    ]
    assert files, "no archive files written"
    # filenames carry the sequence range (InjectableS3Emitter.java:37-42)
    for f in files:
        first, last = parse_seq_range(os.path.basename(f))
        assert first.isdigit() and last.isdigit()

    mdf = read_manifest(spark, manifest)
    assert mdf.agg(F.sum("record_count")).collect()[0][0] == len(payloads)
    assert {os.path.basename(r["file_path"]) for r in mdf.collect()} == {
        os.path.basename(f) for f in files
    }


def test_byte_bound_splits_files(spark, tmp_path):
    """B1's size bound (VcrConfiguration.java:13): one shard's batch is
    split into sequence-contiguous files each at most max_file_bytes;
    content round-trips unchanged and ranges don't overlap."""
    base = datetime(2024, 3, 5, 10, 0, 0)
    payloads = [f"record-{i:04d}".encode() for i in range(10)]
    rows = [
        (p, str(i).zfill(4), f"pk-{i}", "shard-0", base)
        for i, p in enumerate(payloads)
    ]
    records = spark.createDataFrame(rows, RECORD_SCHEMA)
    archive = str(tmp_path / "arch")
    manifest = str(tmp_path / "manifest")
    # each base64 line is 17 bytes (16 chars + newline) -> cap of 40
    # bytes fits 2 lines per file -> 5 files
    write_archive_with_manifest(records, archive, manifest, max_file_bytes=40)

    mrows = sorted(
        read_manifest(spark, manifest).collect(), key=lambda r: r["first_seq"]
    )
    assert len(mrows) == 5
    assert all(r["byte_size"] <= 40 for r in mrows)
    assert all(r["record_count"] == 2 for r in mrows)
    # contiguous, non-overlapping sequence ranges
    for prev, nxt in zip(mrows, mrows[1:]):
        assert prev["last_seq"] < nxt["first_seq"]

    now = datetime.utcnow()
    got = read_archive(
        spark, archive, now - timedelta(days=1), now + timedelta(days=1),
        mtime_filter=False,
    )
    assert sorted(r["data"] for r in got.collect()) == sorted(payloads)


def test_streaming_manifest_estimate_chain(spark, tmp_path):
    """User flow: stream -> byte-bounded per-shard archive + manifest ->
    estimate from the manifest == estimate from the FS listing."""
    from kinesis_vcr_spark.functions.estimate import (
        estimate_from_manifest,
        estimate_replay_time,
    )

    payloads = [f"Record number {i}".encode() for i in range(30)]
    stream = _source_records(spark, tmp_path, payloads)
    cfg = VcrConfig(
        archive_root=str(tmp_path / "bucket"),
        source_stream="events",
        checkpoint_location=str(tmp_path / "ckpt"),
        buffer_size_bytes=64,  # force byte-bound splits
    )
    manifest = str(tmp_path / "manifest")
    q = record_stream_with_manifest(stream, cfg, manifest, available_now=True)
    q.awaitTermination(120)

    mdf = read_manifest(spark, manifest)
    mrows = mdf.collect()
    assert sum(r["record_count"] for r in mrows) == len(payloads)
    assert all(r["byte_size"] <= 64 for r in mrows)
    assert len(mrows) > 1  # the byte bound actually split

    now = datetime.utcnow()
    rng = (now - timedelta(days=1), now + timedelta(days=1))
    a = estimate_replay_time(spark, cfg.archive_path, *rng, open_shards=2)
    b = estimate_from_manifest(spark, manifest, *rng, open_shards=2)
    assert (a.file_count, a.total_bytes) == (b.file_count, b.total_bytes)


def test_record_manifest_restart_recovery(spark, tmp_path):
    """Reference Test-2 semantics under kill/restart (VERDICT r03 item 4):
    drive record_stream_with_manifest with a REAL processingTime trigger
    and a small byte bound, stop the query mid-stream after at least one
    committed batch, append more source data, restart from the SAME
    checkpoint, and prove the end state is exactly-once:

    - every source record appears EXACTLY once across the archive files
      (an un-recovered offset would lose records; a re-processed batch
      landing under different names would duplicate them — idempotent
      same-name writes + manifest dedup make the rerun invisible);
    - lines within each file are in ascending per-shard sequence order,
      base64-encoded (KinesisRecorderTest.java:157-190);
    - the byte bound rotated files (B1's size half) and every manifest
      row reconciles byte-for-byte with the file on disk.
    """
    import base64
    import time

    from pyspark.sql import Row

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base = datetime(2024, 3, 5, 10, 0, 0)

    def write_wave(lo, hi):
        rows = [
            Row(
                data=f"rr-{i:04d}-{'x' * 40}".encode(),
                sequence_number=str(i).zfill(20),
                partition_key=f"pk-{i}",
                shard_id=f"sh-{i % 2}",
                arrival_ts=base + timedelta(seconds=i),
            )
            for i in range(lo, hi)
        ]
        (
            spark.createDataFrame(rows, RECORD_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )

    def manifest_records() -> int:
        try:
            return (
                read_manifest(spark, manifest)
                .agg(F.sum("record_count"))
                .collect()[0][0]
                or 0
            )
        except Exception:  # manifest dir not created yet
            return 0

    def wait_for(n, timeout=120.0):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if manifest_records() >= n:
                return
            time.sleep(0.5)
        raise AssertionError(
            f"timed out waiting for {n} manifest records "
            f"(have {manifest_records()})"
        )

    cfg = VcrConfig(
        archive_root=str(tmp_path / "bucket"),
        source_stream="events",
        checkpoint_location=str(tmp_path / "ckpt"),
        buffer_size_bytes=150,  # base64 line ≈ 69 B → ~2 lines/file
    )
    manifest = str(tmp_path / "manifest")

    def start():
        stream = (
            spark.readStream.schema(RECORD_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # one wave per micro-batch
            .parquet(src_dir)
        )
        return record_stream_with_manifest(
            stream, cfg, manifest, trigger_seconds=1
        )

    # phase 1: two waves queued; kill after the first batch commits —
    # the second may be unstarted, in-flight (interrupted foreachBatch
    # → idempotent rerun), or done; every path must converge.
    write_wave(0, 30)
    write_wave(30, 60)
    q = start()
    wait_for(30)
    q.stop()
    q.awaitTermination(60)

    # phase 2: more data arrives while down; restart from the checkpoint
    write_wave(60, 90)
    q = start()
    wait_for(90)
    q.stop()
    q.awaitTermination(60)

    files = sorted(
        f
        for f in glob.glob(f"{cfg.archive_path}/dt=*/shard=*/*")
        if not os.path.basename(f).startswith((".", "_"))
    )
    # exactly-once: each of the 90 payloads appears exactly once overall
    seen = []
    for f in files:
        with open(f, "rb") as fh:
            lines = [ln for ln in fh.read().split(b"\n") if ln]
        decoded = [base64.b64decode(ln) for ln in lines]
        seen.extend(decoded)
        # in-file order: ascending sequence within the shard's file
        seqs = [int(p.split(b"-")[1]) for p in decoded]
        assert seqs == sorted(seqs), f"out-of-order lines in {f}"
    expected = [f"rr-{i:04d}-{'x' * 40}".encode() for i in range(90)]
    assert sorted(seen) == expected  # no loss, no duplicates

    # byte-bound rotation happened (≥3 batches × 2 shards would be 6
    # files without rotation) and the bound held per file
    assert len(files) > 6
    mrows = read_manifest(spark, manifest).collect()
    assert sum(r["record_count"] for r in mrows) == 90
    assert {r["file_path"] for r in mrows} == set(files)
    for r in mrows:
        assert os.path.getsize(r["file_path"]) == r["byte_size"]
        assert r["byte_size"] <= cfg.buffer_size_bytes
        first, last = parse_seq_range(os.path.basename(r["file_path"]))
        assert (first, last) == (r["first_seq"], r["last_seq"])
