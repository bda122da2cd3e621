"""estimate — metadata-only aggregate (reference A1/A2/A6)."""

from datetime import datetime

import pytest

from kinesis_vcr_spark.functions.estimate import (
    estimate_agg,
    estimate_replay_time,
    replay_minutes,
)
from kinesis_vcr_spark.sources.archive import archive_listing, write_archive
from tests.test_archive import make_records


def test_replay_minutes_reference_example():
    """README's only published datapoint: 6,038 MB / 2 shards → ~50 min.

    6038 MB / 2 / 60 = 50 (integer floor division, KinesisVcr.java:88-91).
    """
    assert replay_minutes(6_038_000_000, 2) == 50


def test_replay_minutes_floor_semantics():
    # decimal MB (/1000/1000), NOT MiB — 1,999,999 bytes is 1 MB
    assert replay_minutes(1_999_999, 1) == 0
    assert replay_minutes(120_000_000, 1) == 2
    assert replay_minutes(120_000_000, 2) == 1


def test_estimate_counts_and_sums_listing(spark, tmp_path):
    path = str(tmp_path / "arc")
    write_archive(make_records(spark, n=30, payload=b"q" * 100, day="2024-03-05"), path)
    listing = archive_listing(
        spark, path, datetime(2024, 3, 5), datetime(2024, 3, 6), mtime_filter=False
    )
    row = estimate_agg(listing).collect()[0]
    assert row["file_count"] == listing.count()
    assert row["file_count"] >= 1
    # text archive: 30 records x (136 base64 chars + newline)
    assert row["total_bytes"] == 30 * 137


def test_estimate_end_to_end(spark, tmp_path):
    import uuid

    path = str(tmp_path / "arc2")
    write_archive(make_records(spark, n=10, day="2024-03-05"), path)
    write_archive(make_records(spark, n=7, day="2024-03-06"), path)
    est = estimate_replay_time(
        spark, path, datetime(2024, 3, 4), datetime(2024, 3, 7), open_shards=2
    )
    # fresh files have mtime=now, outside the queried window → excluded
    assert est.file_count == 0 and est.total_bytes == 0
    assert est.human == "0 mins"

    # the listing is summed in Python: no Spark job, and the same
    # totals as the listing aggregate over the same range
    start, end = datetime(2024, 3, 4), datetime(2099, 1, 1)
    sc = spark.sparkContext
    group = f"estimate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        est2 = estimate_replay_time(spark, path, start, end, open_shards=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert est2.file_count >= 2
    assert est2.total_bytes > 0
    row = estimate_agg(archive_listing(spark, path, start, end)).collect()[0]
    assert (est2.file_count, est2.total_bytes) == (
        row["file_count"],
        row["total_bytes"],
    )


def test_estimate_rejects_bad_shards(spark, tmp_path):
    with pytest.raises(ValueError):
        estimate_replay_time(
            spark, str(tmp_path), datetime(2024, 1, 1), None, open_shards=0
        )


def test_estimate_missing_partitions_empty(spark, tmp_path):
    listing = archive_listing(
        spark, str(tmp_path / "nothing"), datetime(2024, 1, 1), datetime(2024, 1, 3)
    )
    row = estimate_agg(listing).collect()[0]
    assert row["file_count"] == 0 and row["total_bytes"] == 0


def test_estimate_from_manifest_matches_listing(spark, tmp_path):
    """The manifest-based estimate (the 10^6-file scale path) must agree
    with the listing-based one on the same archive, and prune by dt."""
    from datetime import datetime, timedelta

    from kinesis_vcr_spark.functions.estimate import (
        estimate_from_manifest,
        estimate_replay_time,
    )
    from kinesis_vcr_spark.model import RECORD_SCHEMA
    from kinesis_vcr_spark.streaming.record import write_archive_with_manifest

    base = datetime(2024, 3, 5, 10, 0, 0)
    rows = [
        (f"rec-{i}".encode(), str(i).zfill(6), f"pk-{i}", f"shard-{i % 2}",
         base)
        for i in range(12)
    ]
    records = spark.createDataFrame(rows, RECORD_SCHEMA)
    archive = str(tmp_path / "arch")
    manifest = str(tmp_path / "manifest")
    write_archive_with_manifest(records, archive, manifest)

    now = datetime.utcnow()
    in_range = (now - timedelta(days=1), now + timedelta(days=1))
    from_listing = estimate_replay_time(
        spark, archive, *in_range, open_shards=2
    )
    from_manifest = estimate_from_manifest(
        spark, manifest, *in_range, open_shards=2
    )
    assert from_manifest.file_count == from_listing.file_count == 2
    assert from_manifest.total_bytes == from_listing.total_bytes > 0
    assert from_manifest.minutes == from_listing.minutes

    # dt pruning: a range entirely in the past sees nothing
    past = estimate_from_manifest(
        spark, manifest,
        now - timedelta(days=30), now - timedelta(days=20), open_shards=2,
    )
    assert past.file_count == 0 and past.total_bytes == 0
