"""In-process stand-in for Kinesis ``put_records``, with counters.

Replay's writer runs on the executors, so each partition builds its own
:class:`FakeKinesis` behind the real ``kinesis_partition_writer`` (batcher,
partial-failure retry and backoff all run unchanged) and drops its
counters plus the fingerprints of every accepted record into a stats
directory. :func:`collect` merges them on the driver.

The fake accepts every entry at once, except that it answers
``ProvisionedThroughputExceededException`` for the entry with record id
:data:`THROTTLED_ID`, on that entry's first attempt only. The throttled
entry is therefore keyed by content and fixed by the input, and each
replay pays exactly one retry with its backoff.
"""

from __future__ import annotations

import json
import os
import time
import uuid
import zlib
from dataclasses import dataclass, field

import numpy as np

MAX_CALL_RECORDS = 500
MAX_CALL_DATA_BYTES = 1_000_000
THROTTLE_CODE = "ProvisionedThroughputExceededException"
THROTTLED_ID = 0


class FakeKinesis:
    """One partition's sink: counts calls, checks the PutRecords caps and
    remembers what it accepted."""

    def __init__(self):
        self.throttled_at: dict[int, float] = {}
        self.throttled_once = False
        self.calls = 0
        self.call_records = 0
        self.call_bytes = 0
        self.cap_violations = 0
        self.retry_calls = 0
        self.retried_records = 0
        self.backoff_wait_s = 0.0
        self.accepted: list[tuple[int, int, int]] = []

    # boto3's keyword names
    def put_records(self, StreamName: str, Records: list[dict]) -> dict:  # noqa: N803
        now = time.monotonic()
        self.calls += 1
        data_bytes = sum(len(e["Data"]) for e in Records)
        self.call_records += len(Records)
        self.call_bytes += data_bytes
        if len(Records) > MAX_CALL_RECORDS or data_bytes > MAX_CALL_DATA_BYTES:
            self.cap_violations += 1
        results = []
        failed = 0
        resubmitted_from = None
        for entry in Records:
            data = entry["Data"]
            rid = int.from_bytes(data[:8], "big")
            since = self.throttled_at.pop(rid, None)
            if since is not None:
                self.retried_records += 1
                if resubmitted_from is None or since < resubmitted_from:
                    resubmitted_from = since
            elif rid == THROTTLED_ID and not self.throttled_once:
                self.throttled_once = True
                self.throttled_at[rid] = now
                failed += 1
                results.append({"ErrorCode": THROTTLE_CODE, "ErrorMessage": "throttled"})
                continue
            self.accepted.append((rid, len(data), zlib.crc32(data)))
            results.append({"SequenceNumber": str(rid), "ShardId": "shardId-000000000000"})
        if resubmitted_from is not None:
            self.retry_calls += 1
            self.backoff_wait_s += now - resubmitted_from
        return {"FailedRecordCount": failed, "Records": results}

    def dump(self, stats_dir: str, rows_in: int, oversize_in: int) -> None:
        name = os.path.join(stats_dir, uuid.uuid4().hex)
        np.save(name + ".npy", np.asarray(self.accepted, dtype=np.uint64).reshape(-1, 3))
        counters = {
            "rows_in": rows_in,
            "oversize_in": oversize_in,
            "calls": self.calls,
            "call_records": self.call_records,
            "call_bytes": self.call_bytes,
            "cap_violations": self.cap_violations,
            "retry_calls": self.retry_calls,
            "retried_records": self.retried_records,
            "backoff_wait_s": self.backoff_wait_s,
        }
        with open(name + ".json", "w") as fh:
            json.dump(counters, fh)


def sink_writer(stats_dir: str):
    """The ``writer`` handed to ``replay``: the library's Kinesis partition
    writer over a per-partition :class:`FakeKinesis`. Counts the rows it
    is handed and how many exceed the per-call byte cap (the batcher drops
    those), then dumps the partition's counters."""
    from kinesis_vcr_spark.sinks.kinesis import kinesis_partition_writer

    def write(rows):
        sink = FakeKinesis()
        inner = kinesis_partition_writer("bench-target", lambda: sink.put_records)
        seen = [0, 0]

        def tally(it):
            for row in it:
                seen[0] += 1
                if len(row["data"]) > MAX_CALL_DATA_BYTES:
                    seen[1] += 1
                yield row

        failed = inner(tally(rows))
        sink.dump(stats_dir, seen[0], seen[1])
        return failed

    return write


@dataclass
class SinkStats:
    """Counters of one replay, merged over partitions."""

    rows_in: int = 0
    oversize_in: int = 0
    calls: int = 0
    call_records: int = 0
    call_bytes: int = 0
    cap_violations: int = 0
    retry_calls: int = 0
    retried_records: int = 0
    backoff_wait_s: float = 0.0
    accepted: np.ndarray = field(default_factory=lambda: np.empty((0, 3), np.uint64))

    @property
    def duplicates(self) -> int:
        return len(self.accepted) - len(np.unique(self.accepted[:, 0]))


def collect(stats_dir: str) -> SinkStats:
    stats = SinkStats()
    parts = []
    for name in sorted(os.listdir(stats_dir)):
        path = os.path.join(stats_dir, name)
        if name.endswith(".json"):
            with open(path) as fh:
                for key, val in json.load(fh).items():
                    setattr(stats, key, getattr(stats, key) + val)
        elif name.endswith(".npy"):
            parts.append(np.load(path))
    if parts:
        stats.accepted = np.concatenate(parts)
    return stats
