"""``estimate`` — metadata-only replay-time aggregate (reference A1/A2/A5/A6).

Mirrors ``KinesisVcr.java:74-98``: list archive files in range (never GET
their contents), count them and sum their sizes, divide by the target
stream's write throughput (1 MB/s per open shard), floor to minutes, and
humanize. Preserving the metadata-only property is a correctness
requirement (SURVEY.md §4): estimate cost must be independent of data
size — O(files), not O(bytes).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.sources.archive import list_archive_files
from kinesis_vcr_spark.timeparse import humanize_minutes


def count_open_shards(
    describe_stream: Callable[..., dict], stream_name: str
) -> int:
    """Open shards of the target stream = estimate divisor (F6/A5).

    Mirrors KinesisPlayer.java:77-83: a shard is open iff its
    ``EndingSequenceNumber`` is absent (null). Paginates with
    ``ExclusiveStartShardId``/``HasMoreShards`` exactly like the AWS
    API; ``describe_stream`` is injectable (boto3's
    ``client("kinesis").describe_stream`` in production, a fake dict
    function in tests — same pattern as the putRecords sink).
    """
    open_count = 0
    kwargs: dict = {"StreamName": stream_name}
    while True:
        desc = describe_stream(**kwargs)["StreamDescription"]
        for shard in desc.get("Shards", []):
            seq_range = shard.get("SequenceNumberRange", {})
            if seq_range.get("EndingSequenceNumber") is None:
                open_count += 1
        if not desc.get("HasMoreShards"):
            return open_count
        kwargs["ExclusiveStartShardId"] = desc["Shards"][-1]["ShardId"]


def boto3_describe_stream_factory() -> Callable[..., dict]:
    """Production factory (import-gated; AWS-free envs never touch boto3)."""
    import boto3  # noqa: PLC0415 — deliberate lazy import

    return boto3.client("kinesis").describe_stream


@dataclass
class Estimate:
    file_count: int
    total_bytes: int
    open_shards: int
    minutes: int
    human: str


def estimate_agg(listing: DataFrame) -> DataFrame:
    """count(files) + sum(bytes) in ONE pass (A1+A2, KinesisVcr.java:75-82)
    over an :func:`~kinesis_vcr_spark.sources.archive.archive_listing`
    DataFrame.

    The reference makes one pass with a side-effecting counter; Spark does
    both aggregates in a single partial-agg plan.
    """
    return listing.agg(
        F.count("*").alias("file_count"),
        F.coalesce(F.sum("file_size"), F.lit(0)).alias("total_bytes"),
    )


def replay_minutes(total_bytes: int, open_shards: int) -> int:
    """The reference's exact arithmetic (KinesisVcr.java:88-91):
    decimal-MB integer division, 1 MB/s per open shard model.

    ``minutes = (bytes // 1000 // 1000) // shards // 60`` — floor at every
    step, matching Java long division.
    """
    total_mb = total_bytes // 1000 // 1000
    return total_mb // open_shards // 60


def estimate_replay_time(
    spark: SparkSession,
    archive_path: str,
    start: datetime,
    end: datetime | None,
    open_shards: int | None = None,
    describe_stream: Callable[..., dict] | None = None,
    target_stream: str | None = None,
) -> Estimate:
    """End-to-end estimate over a local/S3 archive (KinesisVcr.java:74-98).

    Pass ``open_shards`` directly, or ``describe_stream`` +
    ``target_stream`` to count them from the control plane like the
    reference (KinesisPlayer.java:77-83).

    The listing's tuples (one per file in range) are already in this
    process, so the count and sum run in Python: the estimate launches
    no Spark job and no Python worker (the same totals as
    ``estimate_agg(archive_listing(...))``).
    """
    if open_shards is None:
        if describe_stream is None or target_stream is None:
            raise ValueError(
                "pass open_shards, or describe_stream + target_stream"
            )
        open_shards = count_open_shards(describe_stream, target_stream)
    if open_shards <= 0:
        raise ValueError("open_shards must be positive")
    files = list_archive_files(spark, archive_path, start, end)
    total_bytes = sum(size for _dt, _path, size, _mtime in files)
    minutes = replay_minutes(total_bytes, open_shards)
    return Estimate(
        file_count=len(files),
        total_bytes=total_bytes,
        open_shards=open_shards,
        minutes=minutes,
        human=humanize_minutes(minutes),
    )


def estimate_from_manifest(
    spark: SparkSession,
    manifest_path: str,
    start: datetime,
    end: datetime | None,
    open_shards: int,
) -> Estimate:
    """Estimate from the MANIFEST table instead of a filesystem listing.

    The listing path is O(files) through the driver's FS client — fine
    to ~10^6 keys, but at 100 TB with years of retention the manifest
    (one parquet row per archive file, written by the record path) is
    the better source: a distributed, dt-pruned parquet scan whose cost
    the cluster shares, with no LIST round-trips at all.

    Range semantics: the manifest prunes on the ``dt`` write-date
    partition (day granularity). That IS the reference's processing-time
    semantics (the dt is stamped at flush, like Clock.systemUTC() in
    InjectableS3Emitter.java:40); the listing path additionally applies
    F3's second-granularity mtime filter — for sub-day bounds prefer
    :func:`estimate_replay_time`.
    """
    from kinesis_vcr_spark.sources.archive import _dt_filter
    from kinesis_vcr_spark.streaming.record import read_manifest
    from kinesis_vcr_spark.timeparse import default_end, validate_range

    if open_shards <= 0:
        raise ValueError("open_shards must be positive")
    end = default_end(start, end)
    validate_range(start, end)
    manifest = read_manifest(spark, manifest_path)
    pruned = manifest.where(_dt_filter(start, end))
    row = pruned.agg(
        F.count("*").alias("file_count"),
        F.coalesce(F.sum("byte_size"), F.lit(0)).alias("total_bytes"),
    ).collect()[0]
    minutes = replay_minutes(row["total_bytes"], open_shards)
    return Estimate(
        file_count=row["file_count"],
        total_bytes=row["total_bytes"],
        open_shards=open_shards,
        minutes=minutes,
        human=humanize_minutes(minutes),
    )
