"""Token-bucket rate limiting for replay writers (E106, r12).

The reference ESTIMATES replay time from Kinesis's 1 MB/s/shard ingest
limit (KinesisVcr.java:90-96 → functions/estimate.py:77) but replays
as fast as the 10-thread pool can push, leaning on the retry loop to
absorb ProvisionedThroughputExceededException storms (X1/X3). That
works, but every rejected put is wasted egress and a retry-budget
drain; production replay PACES proactively so the stream's limit is
approached, not slammed. This module is the governor: a monotonic
token bucket shared by one writer, sized from the stream's open-shard
count so aggregate replay throughput matches the estimate that was
quoted before the replay started.

Deterministic and AWS-free by construction: the clock and sleep are
injectable, so tests drive virtual time and assert exact pacing
(tests/test_ratelimit.py), the same fake-sink discipline as the
batching/retry tests.

Reference anchor: KinesisPlayer.java:58 (thread pool),
KinesisVcr.java:90-96 (the 1 MB/s/shard arithmetic this enforces).
"""

from __future__ import annotations

import time
from collections.abc import Callable

#: Kinesis per-shard ingest limit the reference's estimate uses
PER_SHARD_BYTES_PER_S = 1_000_000


class TokenBucket:
    """Blocking token bucket: ``acquire(n)`` returns immediately while
    tokens last and sleeps exactly the refill deficit otherwise.

    ``capacity`` bounds the burst (default: one second of rate — the
    Kinesis limit's own accounting window). Requests larger than the
    capacity are allowed and simply wait out their full deficit
    (borrow semantics), so a single batch bigger than one second of
    rate still flows — paced, not rejected.
    """

    def __init__(
        self,
        rate_bytes_per_s: float,
        capacity_bytes: float | None = None,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        if rate_bytes_per_s <= 0:
            raise ValueError("rate_bytes_per_s must be positive")
        self.rate = float(rate_bytes_per_s)
        self.capacity = float(
            capacity_bytes if capacity_bytes is not None else rate_bytes_per_s
        )
        if self.capacity <= 0:
            raise ValueError("capacity_bytes must be positive")
        self._clock = clock
        self._sleep = sleep
        self._tokens = self.capacity
        self._last = clock()
        self.total_slept = 0.0  # observability: seconds spent pacing

    def _refill(self) -> None:
        now = self._clock()
        self._tokens = min(
            self.capacity, self._tokens + (now - self._last) * self.rate
        )
        self._last = now

    def acquire(self, n: int | float) -> float:
        """Take ``n`` tokens, sleeping until the bucket can cover them;
        returns the seconds slept (0.0 on the fast path)."""
        if n < 0:
            raise ValueError("n must be non-negative")
        self._refill()
        if self._tokens >= n:
            self._tokens -= n
            return 0.0
        deficit = n - self._tokens
        wait = deficit / self.rate
        self._sleep(wait)
        self.total_slept += wait
        # the sleep minted exactly the deficit (virtual-clock tests pin
        # this); re-sync against the real clock for drift
        self._tokens = 0.0
        self._last = self._clock()
        return wait


def per_writer_rate(
    open_shards: int,
    parallelism: int,
    per_shard_bytes_per_s: int = PER_SHARD_BYTES_PER_S,
) -> float:
    """Split the stream's aggregate ingest limit across replay
    writers: ``open_shards × per-shard limit / parallelism`` — with
    random partition keys (T5) every writer spreads uniformly over all
    shards, so the per-writer share is the aggregate divided evenly.
    The same arithmetic as the reference's estimate, inverted into a
    budget (functions/estimate.py:77).

    ``parallelism`` is the CAP on replay writers (``replay`` coalesces
    the scan splits into at most that many partitions). With fewer scan
    splits than ``parallelism`` fewer writers run, so the paced total
    stays below the stream limit — never above it."""
    if open_shards <= 0 or parallelism <= 0:
        raise ValueError("open_shards and parallelism must be positive")
    return open_shards * per_shard_bytes_per_s / parallelism
