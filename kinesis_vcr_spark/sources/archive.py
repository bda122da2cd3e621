"""The archive format: line encoding, file layout, listing and the read
path — pruned scan, time filter, decode (reference S2/S3, F2/F3/F7, T2/T3).

Every archive line is ``base64(data)`` (:func:`encode_lines`, decoded by
:func:`read_archive`). Files live under ``<root>/dt=yyyy-MM-dd/``: the
text sink writes ``part-*`` files there, and :func:`write_shard_files`
writes the reference's ``{firstSeq}-{lastSeq}`` names one directory
down, under ``shard=<id>`` (InjectableS3Emitter.java:37-42). The
recorder, compaction and :func:`list_archive_files` all go through this
module for that layout.

The reference replays by enumerating one S3 prefix per day in range
(KinesisPlayer.java:219-221), filtering objects to
``start < lastModified < end`` strictly-exclusively at second resolution
(:209-212), GETting each object, splitting on ``\\n`` and base64-decoding
each line (:160-189). Spark-first equivalents:

- day enumeration → Hive partition pruning on ``dt`` (Catalyst file-index
  prune; zero files outside the range are even listed);
- lastModified filter → ``_metadata.file_modification_time`` predicate,
  evaluated per file before rows are produced;
- line split / empty-line skip / decode → ``spark.read.text`` semantics +
  ``length(value) > 0`` + ``F.unbase64``.

All of it is one declarative plan; at 100 TB the scan parallelizes by
file split with no driver-side iteration.
"""

from __future__ import annotations

import calendar
import os
import re
from collections.abc import Iterable, Iterator
from datetime import date, datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.timeparse import default_end, validate_range


def _utc_epoch(dt: datetime) -> int:
    """Naive datetime → epoch seconds AS UTC, regardless of host TZ.

    The reference pins UTC (``start.atOffset(ZoneOffset.UTC)
    .toEpochSecond()``, KinesisPlayer.java:209-212); ``dt.timestamp()``
    would interpret naive values in the driver's LOCAL zone and shift
    the window on non-UTC hosts.
    """
    if dt.tzinfo is not None:
        return int(dt.timestamp())
    return calendar.timegm(dt.timetuple())


def _mtime_filter(start: datetime, end: datetime) -> Column:
    """start < mtime < end, strictly exclusive, **second** granularity.

    The reference compares ``lastModified.getTime()/1000`` against
    ``start.toEpochSecond()`` with ``<``/``>`` (KinesisPlayer.java:209-212)
    — a file modified exactly at either bound is EXCLUDED, and sub-second
    precision is truncated before comparing.
    """
    mtime_s = F.unix_timestamp(F.col("_metadata.file_modification_time"))
    return (mtime_s > F.lit(_utc_epoch(start))) & (
        mtime_s < F.lit(_utc_epoch(end))
    )


def _dt_filter(start: datetime, end: datetime) -> Column:
    """Partition-pruning predicate: day range [start.date, end.date]."""
    return F.col("dt").between(
        F.lit(start.strftime("%Y-%m-%d")).cast("date"),
        F.lit(end.strftime("%Y-%m-%d")).cast("date"),
    )


def read_archive_lines(
    spark: SparkSession,
    archive_path: str,
    start: datetime,
    end: datetime | None = None,
    mtime_filter: bool = True,
) -> DataFrame:
    """Scan the base64 lines of an archive in [start, end).

    Returns columns ``value`` (base64 string), ``dt`` (partition date),
    ``file_path``, ``file_mtime``, ``file_size``. Range semantics follow
    the reference exactly (F2 prune, F3 strict-exclusive mtime, F4 default
    end, F7 empty-line skip).

    Set ``mtime_filter=False`` for rebuilt/copied archives whose file
    mtimes no longer reflect write time (the dt partition still prunes).
    """
    end = default_end(start, end)
    validate_range(start, end)

    df = spark.read.text(archive_path).where(_dt_filter(start, end))
    if mtime_filter:
        df = df.where(_mtime_filter(start, end))
    return df.select(
        "value",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.file_modification_time").alias("file_mtime"),
        F.col("_metadata.file_size").alias("file_size"),
        "dt",
    ).where(F.length("value") > 0)


def read_archive(
    spark: SparkSession,
    archive_path: str,
    start: datetime,
    end: datetime | None = None,
    mtime_filter: bool = True,
) -> DataFrame:
    """Decoded archive records in range: ``data`` binary + ``dt``.

    The replay-side projection: base64 line → raw payload
    (KinesisPlayer.java:188). Ordering is NOT preserved — the reference
    deliberately randomizes replay order/partitioning (SURVEY.md §1.4).
    """
    lines = read_archive_lines(spark, archive_path, start, end, mtime_filter)
    return lines.select(F.unbase64("value").alias("data"), "dt")


def encode_lines(records: DataFrame, *keep: str, dt: Column | None = None) -> DataFrame:
    """The archive line encoding (T2, S3RecorderPipeline.java:52-57):
    ``value`` = base64 of ``data``, one line per record, next to its
    ``dt`` partition date and the ``keep`` columns. :func:`read_archive`
    decodes it.

    ``dt`` defaults to the WRITE date (processing time), matching
    ``Clock.systemUTC()`` at flush (InjectableS3Emitter.java:40) — not
    record event time; a replay range can miss late-recorded data, by
    design (SURVEY.md §4 quirk 3).
    """
    if dt is None:
        dt = F.to_date(F.current_timestamp())
    return records.select(F.base64("data").alias("value"), dt.alias("dt"), *keep)


def write_archive(
    records: DataFrame,
    archive_path: str,
    dt_from: str = "arrival_ts",
    mode: str = "append",
) -> None:
    """Batch-write envelope records as a date-partitioned base64 archive.

    Test/backfill counterpart of the streaming record path
    (:mod:`kinesis_vcr_spark.streaming.record`): the text sink's
    ``part-*`` files under ``dt=yyyy-MM-dd``. ``dt_from`` names the
    timestamp column that stands in for write time (the reference
    stamps processing time, InjectableS3Emitter.java:40).
    """
    (
        encode_lines(records, dt=F.to_date(F.col(dt_from)))
        .write.mode(mode)
        .partitionBy("dt")
        .text(archive_path)
    )


_SHARD_DIR = "shard="


def _day_dir(root: str, dt: date) -> str:
    return f"{root.rstrip('/')}/dt={dt}"


def parse_seq_range(file_name: str) -> tuple[str, str]:
    """Invert a ``{firstSeq}-{lastSeq}`` file name (sequence numbers are
    decimal strings)."""
    first, _, last = file_name.partition("-")
    return first, last


def write_shard_files(
    root: str,
    shard_id: str | None,
    dt: date,
    pieces: Iterable[tuple[str, str, int, bytes]],
    max_file_bytes: int | None = None,
) -> Iterator[tuple]:
    """Write one shard's lines for one day as ``{firstSeq}-{lastSeq}``
    files and yield each file's manifest row.

    This is the exact-naming writer of InjectableS3Emitter.java:37-42
    (SURVEY.md §7.4 decision 1). ``pieces`` are ``(first_seq, last_seq,
    record_count, lines)``, ``lines`` newline-terminated archive lines:
    one record each from the recorder, one whole file each from
    compaction. They are written in numeric sequence order (a shorter
    decimal string is a smaller number). Files go under
    ``dt=…/shard=<id>/``: Kinesis sequence numbers are unique only PER
    SHARD, so a shard-less name could collide across shards and silently
    overwrite (ADVICE r02). Every character of the id outside
    ``[A-Za-z0-9-]`` becomes ``-``, so the directory is one level deep
    and visible to Spark's file index (no leading ``_`` or ``.``).

    ``max_file_bytes`` is B1's byte bound (100 MB default in the
    reference, VcrConfiguration.java:13): pieces are cut into
    sequence-contiguous files of at most that size. A piece is never
    split, so one larger than the bound gets its own (oversized) file —
    the record side never drops data, unlike the replay batcher's 1 MB
    drop rule.

    Yields ``MANIFEST_SCHEMA`` tuples. Writes with plain file IO — local
    paths / NFS here; an S3 deployment swaps in a boto3 put.
    """
    files: list[list] = []
    size = 0
    for piece in sorted(pieces, key=lambda p: (len(p[0]), p[0])):
        n = len(piece[3])
        if not files or (max_file_bytes is not None and size + n > max_file_bytes):
            files.append([])
            size = 0
        files[-1].append(piece)
        size += n
    part_dir = (
        f"{_day_dir(root, dt)}/{_SHARD_DIR}"
        + re.sub(r"[^A-Za-z0-9-]", "-", str(shard_id))
    )
    os.makedirs(part_dir, exist_ok=True)
    for chunk in files:
        first, last = chunk[0][0], chunk[-1][1]
        path = f"{part_dir}/{first}-{last}"
        payload = b"".join(p[3] for p in chunk)
        with open(path, "wb") as fh:  # idempotent: same name ⇒ same bytes
            fh.write(payload)
        count = sum(p[2] for p in chunk)
        yield (shard_id, dt, path, first, last, count, len(payload))


def list_archive_files(
    spark: SparkSession,
    archive_path: str,
    start: datetime,
    end: datetime | None = None,
    mtime_filter: bool = True,
) -> list[tuple]:
    """Metadata-only listing of archive files in range — never reads rows.

    The estimate path (KinesisVcr.java:74-82) must stay O(files): this
    uses the Hadoop FileSystem listing (same pruned day enumeration as the
    reference's per-day prefix listing, KinesisPlayer.java:234-260) and
    returns plain Python tuples ``(dt, file_path, file_size,
    file_mtime_s)`` in day order. No Spark job runs.

    Listing cost is proportional to files in range only; at 100 TB with
    ~100 MB objects a single-day range is ~10^4 keys — driver-trivial, and
    S3A/HDFS pagination + retries are handled by the filesystem client.
    Days list CONCURRENTLY (py4j serves each Python thread on its own
    gateway connection): a multi-year range over a remote store pays one
    round-trip latency per ~16 days instead of per day, matching the
    reference's pipelined listing (KinesisPlayer.java:225,259).
    """
    from concurrent.futures import ThreadPoolExecutor

    from kinesis_vcr_spark.timeparse import day_range

    end = default_end(start, end)
    validate_range(start, end)

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    start_s, end_s = _utc_epoch(start), _utc_epoch(end)

    def list_day(day: datetime) -> list[tuple]:
        day_rows = []
        path = jvm.org.apache.hadoop.fs.Path(_day_dir(archive_path, day.date()))
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            return day_rows

        def add_file(st) -> None:
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                return  # sink metadata, hidden files
            mtime_seconds = st.getModificationTime() // 1000
            if mtime_filter and not (start_s < mtime_seconds < end_s):
                return  # F3: strictly exclusive, second granularity
            day_rows.append(
                (
                    day.date(),
                    st.getPath().toString(),
                    int(st.getLen()),
                    mtime_seconds,
                )
            )

        # explicit two-level walk: flat files (text-sink layout) plus
        # one level of shard=<id> subdirs (write_shard_files layout).
        # A fully recursive listFiles iterator stats every entry through
        # the RemoteIterator protocol and measured ~2x slower on the
        # flat case — and would happily descend into unrelated nesting.
        for st in fs.listStatus(path):
            if st.isDirectory():
                if st.getPath().getName().startswith(_SHARD_DIR):
                    for sub in fs.listStatus(st.getPath()):
                        if not sub.isDirectory():
                            add_file(sub)
                continue
            add_file(st)
        return day_rows

    days = list(day_range(start, end))
    rows: list[tuple] = []
    with ThreadPoolExecutor(max_workers=min(len(days), 16)) as pool:
        for day_rows in pool.map(list_day, days):  # deterministic order
            rows.extend(day_rows)
    return rows


def archive_listing(
    spark: SparkSession,
    archive_path: str,
    start: datetime,
    end: datetime | None = None,
    mtime_filter: bool = True,
) -> DataFrame:
    """:func:`list_archive_files` as a small DataFrame
    ``(dt, file_path, file_size, file_mtime_s)``, for joins and
    aggregates over the listing."""
    return spark.createDataFrame(
        list_archive_files(spark, archive_path, start, end, mtime_filter),
        "dt date, file_path string, file_size long, file_mtime_s long",
    )
