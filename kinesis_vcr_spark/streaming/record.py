"""``record`` — streaming ingest to a date-partitioned base64 archive
(reference §3.1: S1, T1/T2, F1, B1, K1).

The reference's record pipeline is fixed 4-stage: transform (Record →
bytes), filter (all-pass extension point), buffer (100 MB / 60 s), emit
(one S3 object per flush, base64 lines, keyed by write date + sequence
range) — S3RecorderPipeline.java:22-65, InjectableS3Emitter.java:48-77.

Spark-first shape::

    source stream (RECORD_SCHEMA)
      .filter(predicate)                  # F1 extension point
      .select(base64(data), write-date)   # T2 + processing-time dt
      .writeStream.format("text").partitionBy("dt")
      .trigger(processingTime=buffer_time)
      .option("checkpointLocation", ...)  # replaces the KCL DynamoDB lease table

Semantic deltas, by design (SURVEY.md §7.4):

- Flush is time/epoch-triggered, not byte-triggered — object sizes
  differ from the reference; archive *content* is identical (which is
  what the reference's own tests check).
- Spark's file sink is exactly-once (manifest-committed), strictly
  stronger than the reference's at-least-once emit-retry
  (InjectableS3Emitter.java:56-59). Replays of reference-written
  archives can carry duplicates → see
  :func:`kinesis_vcr_spark.operators.dedup.dedup_exact`.

Two recorders write the archive. :func:`record_stream` is the shape
above: Spark's ``part-*`` file names, and no manifest.
:func:`record_stream_with_manifest` keeps the reference's
``{firstSeq}-{lastSeq}`` file names under ``dt=…/shard=<id>/`` and
appends one manifest row per file (:func:`write_archive_with_manifest`).
The line format and file layout of both belong to
:mod:`kinesis_vcr_spark.sources.archive`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kinesis_vcr_spark.config import VcrConfig
from kinesis_vcr_spark.model import MANIFEST_SCHEMA
from kinesis_vcr_spark.sources.archive import encode_lines, write_shard_files


def _start(
    writer: DataStreamWriter,
    config: VcrConfig,
    trigger_seconds: float | None,
    available_now: bool,
) -> StreamingQuery:
    """Checkpoint the record query and start it: every ``trigger_seconds``
    (default: the reference's 60 s buffer time), or, with
    ``available_now=True``, drain a bounded source and stop
    (test/backfill mode)."""
    if config.checkpoint_location is None:
        raise ValueError("checkpoint_location is required for record()")
    if trigger_seconds is None:
        trigger_seconds = config.buffer_time_millis / 1000.0
    writer = writer.option(
        "checkpointLocation", config.checkpoint_location
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{int(trigger_seconds)} seconds")
    return writer.start()


def record_stream(
    source: DataFrame,
    config: VcrConfig,
    filter_expr: Column | None = None,
    trigger_seconds: float | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the record query: source stream → base64 text archive.

    ``source`` is any streaming DataFrame with a binary ``data`` column —
    the Kinesis DSv2 source in production, a file/rate source in tests
    (the source is pluggable exactly like the reference's connector
    interfaces). ``filter_expr`` is the reference's IFilter slot (F1).
    """
    if filter_expr is not None:
        source = source.where(filter_expr)
    writer = (
        encode_lines(source)
        .writeStream.format("text")
        .partitionBy("dt")
        .option("path", config.archive_path)
    )
    return _start(writer, config, trigger_seconds, available_now)


def write_archive_with_manifest(
    records: DataFrame,
    archive_path: str,
    manifest_path: str,
    max_file_bytes: int | None = None,
) -> None:
    """One micro-batch (or batch backfill) → seq-range-named archive
    files + appended MANIFEST_SCHEMA rows.

    Records are shuffled by shard; each task writes its shards' files
    with :func:`~kinesis_vcr_spark.sources.archive.write_shard_files`,
    one (shard_id, dt) group at a time like the reference's per-shard
    KCL buffers (SURVEY.md §1.4). Two shards hashed into the same
    partition still land in separate files. Lines reach Python as Arrow
    batches, and the manifest rows go straight from the writing tasks
    to parquet — at 10^6 archive files a ``collect()`` of per-file rows
    would spike driver memory for no reason (VERDICT r02 item 5). Batch
    replays can re-run, so manifest readers dedup by ``file_path`` (see
    :func:`read_manifest`).
    """

    def write_partition(batches):
        from collections import defaultdict

        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        groups: dict = defaultdict(list)
        for batch in batches:
            lines = batch.column("value").cast(pa.binary()).to_pylist()
            seqs, dts, shards = (
                batch.column(c).to_pylist()
                for c in ("sequence_number", "dt", "shard_id")
            )
            for line, seq, dt, shard in zip(lines, seqs, dts, shards):
                groups[(shard, dt)].append((seq, seq, 1, line + b"\n"))
        rows = [
            row
            for (shard, dt), pieces in groups.items()
            for row in write_shard_files(
                archive_path, shard, dt, pieces, max_file_bytes
            )
        ]
        if rows:
            yield pa.record_batch(
                [list(col) for col in zip(*rows)],
                schema=to_arrow_schema(MANIFEST_SCHEMA),
            )

    (
        encode_lines(records, "sequence_number", "shard_id")
        .repartition(F.col("shard_id"))
        .mapInArrow(write_partition, MANIFEST_SCHEMA)
        .write.mode("append")
        .parquet(manifest_path)
    )


def record_stream_with_manifest(
    source: DataFrame,
    config: VcrConfig,
    manifest_path: str,
    trigger_seconds: float | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Record variant that preserves the reference's sequence-range file
    naming AND emits the manifest table — ``foreachBatch`` wiring of
    :func:`write_archive_with_manifest`."""

    def handle_batch(batch_df: DataFrame, _epoch_id: int) -> None:
        # B1 complete: byte bound from config (100 MB reference default)
        # splits files inside the batch; the trigger is the time bound
        write_archive_with_manifest(
            batch_df,
            config.archive_path,
            manifest_path,
            max_file_bytes=config.buffer_size_bytes,
        )

    writer = source.writeStream.foreachBatch(handle_batch)
    return _start(writer, config, trigger_seconds, available_now)


def read_manifest(spark, manifest_path: str) -> DataFrame:
    """Manifest rows, deduplicated by file path (foreachBatch replays
    append duplicate rows; the file writes themselves are idempotent)."""
    from kinesis_vcr_spark.operators.dedup import dedup_exact

    return dedup_exact(
        spark.read.parquet(manifest_path), ["file_path"], "first_seq"
    )


KINESIS_SOURCE_FORMAT = "aws-kinesis"
_VALID_STARTING_POSITIONS = ("LATEST", "TRIM_HORIZON", "AT_TIMESTAMP")


def kinesis_reader_options(
    stream_name: str, region: str, **options
) -> dict[str, str]:
    """The exact DSv2 reader options for the Kinesis source (S1) — a
    pure function so the contract is testable without a live stream or
    the connector jar (tests/test_record_replay.py pins it).

    Mirrors the reference's consumer configuration
    (KinesisRecorder.java:26-35): stream name + region; the KCL DynamoDB
    lease table (:27-28) is replaced by the query's checkpoint, and
    ``startingPosition`` defaults to LATEST like a fresh KCL worker with
    no prior lease.
    """
    if not stream_name:
        raise ValueError("stream_name is required")
    if not region:
        raise ValueError("region is required")
    starting = str(options.pop("startingPosition", "LATEST"))
    if (
        starting.upper() not in _VALID_STARTING_POSITIONS
        and not starting.upper().startswith("AT_TIMESTAMP")
    ):
        raise ValueError(
            f"startingPosition must be one of {_VALID_STARTING_POSITIONS}, "
            f"got {starting!r}"
        )
    opts = {
        "kinesis.streamName": stream_name,
        "kinesis.region": region,
        "kinesis.startingposition": starting,
    }
    opts.update({str(k): str(v) for k, v in options.items()})
    return opts


def read_kinesis_stream(spark, stream_name: str, region: str, **options) -> DataFrame:
    """Production source: Kinesis DSv2 connector (S1).

    Requires the spark-sql-kinesis connector jar on the classpath; the
    KCL DynamoDB lease table of the reference (KinesisRecorder.java:27-28)
    is replaced by the query's checkpoint. Import/availability gated —
    raises with guidance when the connector isn't present.
    """
    opts = kinesis_reader_options(stream_name, region, **options)
    try:
        reader = spark.readStream.format(KINESIS_SOURCE_FORMAT)
        for k, v in opts.items():
            reader = reader.option(k, v)
        return reader.load()
    except Exception as exc:  # connector jar missing in this environment
        raise RuntimeError(
            "Kinesis DSv2 connector not on classpath; in AWS-free "
            "environments feed record_stream() a file/rate source with "
            "RECORD_SCHEMA instead"
        ) from exc
