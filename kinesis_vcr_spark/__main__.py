"""CLI entry — the reference's three-verb dispatch
(KinesisVcr.java:33-71): ``record`` | ``play start [end]`` |
``estimate start [end]``.

Config comes from VCR_* environment variables exactly like the
reference (VcrConfiguration.java:17-23); dates parse with the same
accept/reject rules (KinesisVcr.java:113-128, via timeparse).

Usage::

    python -m kinesis_vcr_spark estimate 2024-01-01 2024-01-07
    python -m kinesis_vcr_spark play 2024-01-01T06:00:00
    python -m kinesis_vcr_spark record
"""

from __future__ import annotations

import sys

from kinesis_vcr_spark.config import VcrConfig
from kinesis_vcr_spark.timeparse import parse_datetime


def _parse_range(args: list[str], verb: str):
    """args[0] start [args[1] end] — missing/unparseable start is fatal
    (the reference prints usage and exits, KinesisVcr.java:35-42)."""
    start = parse_datetime(args[0]) if args else None
    if start is None:
        print(
            f"usage: {verb} <start> [<end>] — dates are yyyy-MM-dd or "
            "yyyy-MM-ddTHH:mm:ss",
            file=sys.stderr,
        )
        raise SystemExit(2)
    end = parse_datetime(args[1]) if len(args) > 1 else None
    return start, end


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    verb = argv[0] if argv else "record"

    config = VcrConfig.from_env()

    def get_session(archive: str):
        # deferred until arguments are validated: usage errors must not
        # spin up a JVM — and when an outer session already exists
        # (tests, notebooks), getOrCreate applies this builder's conf
        # as RUNTIME conf on it (shuffle partitions included), a
        # mutation a usage-error path has no business making
        from kinesis_vcr_spark.session import get_spark

        spark = get_spark(f"kinesis-vcr-{verb}")
        # X5: a mistyped bucket or stream stops every verb before its
        # first job, instead of recording nowhere or quoting an empty
        # range (KinesisRecorder.java:38-40, KinesisPlayer.java:70-73)
        try:
            config.preflight_archive(spark, archive)
        except FileNotFoundError as exc:
            print(exc, file=sys.stderr)
            raise SystemExit(2) from exc
        return spark

    if verb == "estimate":
        args = list(argv[1:])
        manifest_path = None
        if "--manifest" in args:
            # manifest-table estimate: distributed parquet scan instead
            # of FS listing — the 10^6-file archive path
            i = args.index("--manifest")
            if i + 1 >= len(args):
                print("--manifest requires a path", file=sys.stderr)
                return 2
            manifest_path = args[i + 1]
            del args[i : i + 2]
        start, end = _parse_range(args, "estimate")
        spark = get_session(
            config.archive_root if manifest_path is not None
            else config.archive_path
        )
        from kinesis_vcr_spark.functions.estimate import (
            boto3_describe_stream_factory,
            count_open_shards,
            estimate_from_manifest,
            estimate_replay_time,
        )

        if manifest_path is not None:
            est = estimate_from_manifest(
                spark,
                manifest_path,
                start,
                end,
                open_shards=count_open_shards(
                    boto3_describe_stream_factory(), config.target_stream
                ),
            )
        else:
            est = estimate_replay_time(
                spark,
                config.archive_path,
                start,
                end,
                describe_stream=boto3_describe_stream_factory(),
                target_stream=config.target_stream,
            )
        # reference output shape: KinesisVcr.java:96-97
        print(
            f"Replaying {est.file_count} files ({est.total_bytes} bytes) "
            f"across {est.open_shards} open shards will take around "
            f"{est.human}"
        )
        return 0

    if verb == "play":
        start, end = _parse_range(argv[1:], "play")
        from kinesis_vcr_spark.functions.estimate import (
            boto3_describe_stream_factory,
        )
        from kinesis_vcr_spark.play import replay
        from kinesis_vcr_spark.sinks.kinesis import (
            boto3_put_records_factory,
            kinesis_partition_writer,
        )

        if not config.target_stream:
            print("VCR_TARGET_STREAM is required for play", file=sys.stderr)
            return 2
        describe_stream = boto3_describe_stream_factory()
        try:
            config.preflight_stream(describe_stream, config.target_stream)
        except Exception as exc:  # whatever the client raises for a missing stream
            print(
                f"target stream {config.target_stream}: {exc}", file=sys.stderr
            )
            return 2
        spark = get_session(config.archive_path)
        writer = kinesis_partition_writer(
            config.target_stream, boto3_put_records_factory
        )
        result = replay(
            spark,
            config.archive_path,
            start,
            end,
            writer,
            parallelism=config.replay_parallelism,
        )
        # reference progress/summary output: KinesisVcr.java:101-107
        print(
            f"Replayed {result.records_delivered} records "
            f"({result.records_failed} failed)"
        )
        return 1 if result.records_failed else 0

    if verb == "record":
        from kinesis_vcr_spark.streaming.record import (
            read_kinesis_stream,
            record_stream,
        )

        source = read_kinesis_stream(
            get_session(config.archive_root),
            config.source_stream,
            region="us-east-1",
        )
        query = record_stream(source, config)
        query.awaitTermination()  # runs until killed, like the reference
        return 0

    print(f"unknown verb: {verb} (expected record | play | estimate)",
          file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
