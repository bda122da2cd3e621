"""Count + byte-weight batching (reference B2).

Re-implements the semantics of ``OperatorBufferKinesisBatch.java:19-118``
as a pure-Python generator used inside replay's per-partition writer
(:func:`kinesis_vcr_spark.sinks.kinesis.kinesis_partition_writer`) —
there is no Catalyst surface here; batching to sink API limits is
procedural by nature (SURVEY.md §4). It is the only batch cut.

Rules:

- flush when the batch reaches ``max_count`` records
  (KinesisPlayer.java:50 → 500);
- flush *before* adding a record that would push the byte total past
  ``max_bytes`` (KinesisPlayer.java:51 → 1,000,000) — the partial batch
  is emitted and the record starts a fresh one;
- a single record larger than ``max_bytes`` is dropped with a warning
  (OperatorBufferKinesisBatch.java:78-81);
- the remainder flushes on completion (:103-114).

KNOWING DIVERGENCE (SURVEY.md §4 quirk 9): the reference SILENTLY
LOSES the record that trips the size limit when the buffer is
non-empty — ``OperatorBufferKinesisBatch.java:83-92`` adds the record
only under ``!reachedSizeLimit`` and then flushes, so the triggering
record is in neither the emitted batch nor the next one. This port
starts the fresh batch WITH that record: no record is ever lost except
the documented oversize drop (property-pinned in
tests/test_batching.py). Replaying an archive must not quietly shed
arbitrary records at 1 MB boundaries, so the data-loss bug is fixed,
not replicated.
"""

from __future__ import annotations

import logging
from collections.abc import Iterable, Iterator

from kinesis_vcr_spark.config import MAX_BATCH_BYTES, MAX_BATCH_COUNT

logger = logging.getLogger(__name__)


def iter_batches(
    payloads: Iterable[bytes],
    max_count: int = MAX_BATCH_COUNT,
    max_bytes: int = MAX_BATCH_BYTES,
    on_drop=None,
) -> Iterator[list[bytes]]:
    """Yield lists of payloads obeying the count and byte-weight limits.

    ``on_drop(payload)`` is called for each oversize record (default: a
    warning log, matching the reference's silent-drop-with-warn rule).
    """
    if max_count <= 0:
        raise ValueError("max_count must be positive")  # ctor check :29-33
    if max_bytes <= 0:
        raise ValueError("max_bytes must be positive")  # ctor check :34-38

    batch: list[bytes] = []
    batch_bytes = 0
    for payload in payloads:
        size = len(payload)
        if size > max_bytes:
            # OperatorBufferKinesisBatch.java:78-81 — oversize drop
            if on_drop is not None:
                on_drop(payload)
            else:
                logger.warning(
                    "dropping oversize record: %d bytes > max %d", size, max_bytes
                )
            continue
        if batch and batch_bytes + size > max_bytes:
            # :75-77,88-92 — emit partial, start fresh with this record
            yield batch
            batch, batch_bytes = [], 0
        batch.append(payload)
        batch_bytes += size
        if len(batch) >= max_count:
            yield batch
            batch, batch_bytes = [], 0
    if batch:
        # :103-114 — final flush
        yield batch
