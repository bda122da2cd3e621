"""``play`` — batch replay of an archived time range (reference §3.2).

The reference's replay is an Rx dataflow: day-pruned listing → GET +
line-split + base64-decode → 500-record/1 MB batching → putRecords with
partial-failure retry, on a 10-thread pool (KinesisPlayer.java:90-117).
Spark-first, that is one batch job of one stage::

    read_archive(...).select("data")        # pruned + filtered + decoded scan
      .coalesce(parallelism)                # cap on concurrent writers (was: 10 threads)
      .mapInArrow(batcher + sink)           # procedural edge, per-partition

There is deliberately NO ordering or shard-affinity preservation — the
reference randomizes partition keys per replayed record
(KinesisPlayer.java:101, SURVEY.md §1.4), which makes replay
embarrassingly parallel: at 100 TB the only knobs are scan split size and
``parallelism``. ``coalesce`` merges scan splits without a shuffle, so
``parallelism`` is an upper bound, like the reference's "up to 10
concurrent putRecords": an archive with fewer splits runs fewer writers.
Payloads cross into Python as Arrow batches, bounded by
``spark.sql.execution.arrow.maxBytesPerBatch``.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kinesis_vcr_spark.config import (
    DEFAULT_REPLAY_PARALLELISM,
    MAX_BATCH_BYTES,
    MAX_BATCH_COUNT,
)
from kinesis_vcr_spark.sources.archive import read_archive

REPLAY_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("batch_index", T.IntegerType(), False),
        T.StructField("record_count", T.IntegerType(), False),
        T.StructField("byte_count", T.LongType(), False),
    ]
)


def replay_batch_plan(
    records: DataFrame,
    max_count: int = MAX_BATCH_COUNT,
    max_bytes: int = MAX_BATCH_BYTES,
) -> DataFrame:
    """Materialize the batching decision as a DataFrame (AWS-free).

    One row per would-be PutRecords call: (partition_id, batch_index,
    record_count, byte_count). This is the reference's B2 operator made
    observable — used by tests (batch-limit invariants) and by the bench
    (replay throughput without a live stream). Oversize records are
    dropped exactly as in OperatorBufferKinesisBatch.java:78-81.

    Only record LENGTHS cross into Python (``octet_length`` projected
    JVM-side, Arrow-batched `mapInPandas`): the r06 sf10 scale run
    caught the previous shape — full payload bytes through the pickled
    RDD path just to take ``len()`` — going 18× at 10× data. The
    greedy two-cap fold is evaluated exactly but VECTORIZED: with
    oversize records dropped up front, each batch's end is
    ``min(start + max_count, first index whose prefix-sum exceeds
    start_bytes + max_bytes)`` — one ``searchsorted`` per emitted
    batch (~n/max_count iterations), identical output to
    :func:`~kinesis_vcr_spark.operators.batching.iter_batches`
    (parity-tested in tests/test_record_replay.py).
    """
    import pyspark.sql.functions as F

    sizes = records.select(F.octet_length("data").alias("sz"))

    def plan(batches):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        chunks = [pdf["sz"].to_numpy(dtype=np.int64) for pdf in batches]
        sz = (
            np.concatenate(chunks) if chunks else np.empty(0, dtype=np.int64)
        )
        sz = sz[sz <= max_bytes]  # oversize drop (:78-81)
        psum = np.concatenate(([0], np.cumsum(sz)))
        counts: list[int] = []
        bytes_: list[int] = []
        s = 0
        n = len(sz)
        while s < n:
            # first index that would push the batch past max_bytes;
            # flush-before-add semantics (:75-92) — the batch is
            # [s, e) with e > s guaranteed (every record <= max_bytes)
            e = int(
                np.searchsorted(psum, psum[s] + max_bytes, side="right") - 1
            )
            e = min(max(e, s + 1), s + max_count, n)
            counts.append(e - s)
            bytes_.append(int(psum[e] - psum[s]))
            s = e
        yield pd.DataFrame(
            {
                "partition_id": np.full(len(counts), pid, dtype=np.int32),
                "batch_index": np.arange(len(counts), dtype=np.int32),
                "record_count": np.array(counts, dtype=np.int32),
                "byte_count": np.array(bytes_, dtype=np.int64),
            }
        )

    return sizes.mapInPandas(plan, REPLAY_BATCH_SCHEMA)


@dataclass
class ReplayResult:
    """A3: replay outcome counts (reference counts emitted records with
    progress output, KinesisVcr.java:101-107; give-ups were only logged
    at sinks/kinesis.py put_with_retry — now surfaced)."""

    records_attempted: int
    records_failed: int

    @property
    def records_delivered(self) -> int:
        return self.records_attempted - self.records_failed


def replay(
    spark: SparkSession,
    archive_path: str,
    start: datetime,
    end: datetime | None,
    writer,
    parallelism: int = DEFAULT_REPLAY_PARALLELISM,
    mtime_filter: bool = True,
    dedup: bool = False,
) -> ReplayResult:
    """Full replay: pruned scan → coalesce → per-partition writer.

    ``writer`` takes an iterator of Rows whose ``row["data"]`` is the
    payload bytes — build one with
    :func:`kinesis_vcr_spark.sinks.kinesis.kinesis_partition_writer` for a
    live stream, or any callable for tests. A writer may return the
    number of records it FAILED to deliver (None ⇒ 0).
    ``parallelism`` maps the reference's fixed 10-thread put pool
    (KinesisPlayer.java:58) to the MAXIMUM number of writer partitions:
    the scan splits are coalesced into at most that many, with no
    shuffle, and fewer splits mean fewer writers.

    ``dedup=True`` drops duplicate payload bytes before writing —
    SURVEY.md §7.4 item 4: the reference's record side is at-least-once
    (a failed S3 emit redelivers the whole buffer,
    InjectableS3Emitter.java:59,75), so a reference-written archive can
    hold the same record twice; our own archives are exactly-once and
    don't need it. Note the key is the payload itself (archive lines
    carry no per-record sequence number), so genuinely identical
    distinct records would also collapse — hence opt-in.

    Returns :class:`ReplayResult`. Counting rides the same job as the
    writes (one (attempted, failed) row per partition — exactly-once per
    partition result, unlike accumulators which double-count on task
    retry).
    """
    records = read_archive(
        spark, archive_path, start, end, mtime_filter
    ).select("data")
    if dedup:
        records = records.dropDuplicates(["data"])

    def run_partition(batches):
        import pyarrow as pa
        from pyspark.sql import Row

        attempted = 0

        def counting():
            nonlocal attempted
            for batch in batches:
                for data in batch.column(0).to_pylist():
                    attempted += 1
                    yield Row(data=data)

        failed = writer(counting())
        yield pa.RecordBatch.from_pydict(
            {"attempted": [attempted], "failed": [int(failed or 0)]}
        )

    counts = (
        records.coalesce(parallelism)
        .mapInArrow(run_partition, "attempted long, failed long")
        .collect()
    )
    return ReplayResult(
        records_attempted=sum(c["attempted"] for c in counts),
        records_failed=sum(c["failed"] for c in counts),
    )
