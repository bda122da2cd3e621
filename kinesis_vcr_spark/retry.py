"""Exponential backoff runner (reference X1).

Mirrors ``ExponentialBackoffRunner.java:27-51``: retry a task while a
predicate matches the thrown error, sleeping ``base * 2^n`` seconds per
attempt, clamped so it never oversleeps the remaining budget; return
``None`` when the budget is exhausted.

Used inside replay's per-partition writers (the sink side); Spark task
retries (``spark.task.maxFailures``) cover the read side.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable
from typing import TypeVar

logger = logging.getLogger(__name__)

R = TypeVar("R")


def run_with_backoff(
    task: Callable[[], R],
    should_retry: Callable[[BaseException], bool],
    budget_seconds: float,
    base_sleep_seconds: float = 1.0,
    clock: Callable[[], float] = time.monotonic,
    sleep: Callable[[float], None] = time.sleep,
) -> R | None:
    """Run ``task`` with exponential backoff; None when the budget runs out.

    Sleep schedule is ``base * 2^n`` (ExponentialBackoffRunner.java:37),
    clamped to the remaining budget (:38-41) so the final sleep never
    overshoots the deadline.
    """
    deadline = clock() + budget_seconds
    attempt = 0
    while True:
        try:
            return task()
        except BaseException as exc:  # noqa: BLE001 — predicate decides
            if not should_retry(exc):
                raise
            remaining = deadline - clock()
            if remaining <= 0:
                logger.warning("backoff budget exhausted after %d attempts", attempt + 1)
                return None
            sleep(min(base_sleep_seconds * (2**attempt), remaining))
            attempt += 1
