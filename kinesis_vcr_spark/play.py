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

from pyspark.sql import SparkSession

from kinesis_vcr_spark.config import DEFAULT_REPLAY_PARALLELISM
from kinesis_vcr_spark.sources.archive import read_archive


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
