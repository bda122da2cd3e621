"""Kinesis putRecords sink with partial-failure retry (reference K2/K3/X3).

The reference wraps decoded payloads as PutRecords entries with a random
UUID partition key (KinesisPlayer.java:98-105), submits batches, and on
partial failure rebuilds the request with only the failed entries,
retrying under a 30 s budget (:122-155). boto3's ``put_records`` returns
the same shape (``FailedRecordCount`` + per-record ``ErrorCode``), so the
retry loop carries over directly.

AWS is optional: the writer takes any callable with boto3's
``put_records`` signature, so tests inject a fake and production injects
``boto3.client("kinesis").put_records``. Import of boto3 is gated.
"""

from __future__ import annotations

import logging
import uuid
from collections.abc import Callable, Iterable

from kinesis_vcr_spark.config import (
    MAX_BATCH_BYTES,
    MAX_BATCH_COUNT,
    PUT_RETRY_BUDGET_SECONDS,
)
from kinesis_vcr_spark.operators.batching import iter_batches
from kinesis_vcr_spark.retry import run_with_backoff

logger = logging.getLogger(__name__)

#: boto3 error codes that re-enter the backoff loop
#: (KinesisPlayer.java:148-150: ProvisionedThroughputExceeded / client errors).
RETRYABLE_ERROR_CODES = {
    "ProvisionedThroughputExceededException",
    "InternalFailure",
    "ServiceUnavailable",
}


class PartialFailure(Exception):
    """Some records in a put_records call failed (KinesisPlayer partial
    failure path, :131-144); carries the entries still to be written."""

    def __init__(self, failed_entries: list[dict]):
        super().__init__(f"{len(failed_entries)} records failed")
        self.failed_entries = failed_entries


def make_entries(payloads: Iterable[bytes]) -> list[dict]:
    """Payload → PutRecords entry with a fresh random partition key (T5,
    KinesisPlayer.java:101) — replay deliberately re-shards uniformly."""
    return [
        {"Data": p, "PartitionKey": str(uuid.uuid4())} for p in payloads
    ]


def entry_bytes(entries: Iterable[dict]) -> int:
    """Bytes a PutRecords call counts toward the 1 MB/s/shard ingest
    limit: data PLUS the UTF-8 partition key (AWS counts both), so the
    pacing bucket must budget both or actual egress exceeds the rate."""
    return sum(
        len(e["Data"]) + len(e["PartitionKey"].encode("utf-8"))
        for e in entries
    )


def put_with_retry(
    put_records: Callable[..., dict],
    stream_name: str,
    entries: list[dict],
    budget_seconds: float = PUT_RETRY_BUDGET_SECONDS,
    bucket=None,
) -> int:
    """Submit one batch, retrying only the failed entries with backoff.

    Returns the number of records NOT delivered: 0 when everything
    landed, the still-pending count when the budget ran out (the
    reference logs and gives up, KinesisPlayer.java:122-155 — here the
    count is surfaced so replay() can report it, A3).

    ``bucket`` (optional token bucket): retried subsets are RE-SENT
    bytes on the wire, so each retry re-acquires tokens for the
    still-pending entries — the caller acquires for the first attempt.
    """
    pending = entries
    first_attempt = True

    def attempt():
        nonlocal pending, first_attempt
        if not first_attempt and bucket is not None:
            bucket.acquire(entry_bytes(pending))
        first_attempt = False
        resp = put_records(StreamName=stream_name, Records=pending)
        if resp.get("FailedRecordCount", 0):
            failed = [
                entry
                for entry, result in zip(pending, resp["Records"])
                if result.get("ErrorCode")
            ]
            pending = failed
            raise PartialFailure(failed)
        return True

    def retryable(exc: BaseException) -> bool:
        if isinstance(exc, PartialFailure):
            return True
        code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
        return code in RETRYABLE_ERROR_CODES

    ok = run_with_backoff(attempt, retryable, budget_seconds)
    if ok is None:
        logger.error(
            "gave up on %d records after %.0f s budget", len(pending), budget_seconds
        )
        return len(pending)
    return 0


def kinesis_partition_writer(
    stream_name: str,
    put_records_factory: Callable[[], Callable[..., dict]],
    max_count: int = MAX_BATCH_COUNT,
    max_bytes: int = MAX_BATCH_BYTES,
    budget_seconds: float = PUT_RETRY_BUDGET_SECONDS,
    rate_limit_bytes_per_s: float | None = None,
    bucket_factory=None,
):
    """Build a ``foreachPartition`` function writing ``data`` rows to Kinesis.

    ``put_records_factory`` is called once per partition ON THE EXECUTOR
    (boto3 clients aren't picklable); pass e.g.
    ``lambda: boto3.client("kinesis").put_records``. ``budget_seconds``
    caps each batch's retry loop (the reference's 30 s give-up budget,
    KinesisPlayer.java:122-155); tests shrink it to exercise give-ups
    without real waits.

    ``rate_limit_bytes_per_s`` (E106, r12) paces each batch through a
    per-writer token bucket BEFORE the put — size it with
    :func:`kinesis_vcr_spark.ratelimit.per_writer_rate` so aggregate
    replay throughput matches the stream's open-shard ingest limit
    (the same arithmetic the estimate quotes) instead of slamming the
    limit and burning the retry budget on
    ProvisionedThroughputExceeded storms. ``bucket_factory`` overrides
    bucket construction (tests inject a virtual clock); it is invoked
    on the executor, once per partition.

    Returns the partition's undelivered record count: give-ups after
    the retry budget plus oversize records (over ``max_bytes``), which
    are dropped with a warning as in the reference and so must not be
    reported as delivered.
    """

    def write_partition(rows) -> int:
        from kinesis_vcr_spark.ratelimit import TokenBucket  # noqa: PLC0415

        put = put_records_factory()
        bucket = None
        if bucket_factory is not None:
            bucket = bucket_factory()
        elif rate_limit_bytes_per_s is not None:
            bucket = TokenBucket(rate_limit_bytes_per_s)
        payloads = (row["data"] for row in rows)
        failed = 0

        def drop(payload: bytes) -> None:
            nonlocal failed
            failed += 1
            logger.warning(
                "dropping oversize record: %d bytes > max %d", len(payload), max_bytes
            )

        for batch in iter_batches(payloads, max_count, max_bytes, on_drop=drop):
            entries = make_entries(batch)
            if bucket is not None:
                # budget data + partition-key bytes (what AWS counts);
                # put_with_retry re-acquires for retried subsets
                bucket.acquire(entry_bytes(entries))
            failed += put_with_retry(
                put, stream_name, entries, budget_seconds, bucket=bucket
            )
        return failed

    return write_partition


def boto3_put_records_factory():
    """Production factory — import-gated so AWS-free environments never
    touch boto3 (the container has no AWS libs; SURVEY.md §5 test plan)."""
    import boto3  # noqa: PLC0415 — deliberate lazy import

    return boto3.client("kinesis").put_records
