"""Replay result counting (A3): attempted/failed surfaced from the job."""

from __future__ import annotations

from datetime import datetime, timedelta

from kinesis_vcr_spark.config import MAX_BATCH_BYTES
from kinesis_vcr_spark.play import replay
from kinesis_vcr_spark.sinks.kinesis import kinesis_partition_writer
from kinesis_vcr_spark.sources.archive import write_archive
from tests.test_archive import make_records


def _replay(spark, tmp_path, writer, n=25, oversize=0):
    path = str(tmp_path / "arc")
    write_archive(make_records(spark, n=n, day="2024-03-05"), path)
    if oversize:
        big = b"\x01" * (MAX_BATCH_BYTES + 1)
        write_archive(make_records(spark, n=oversize, payload=big, day="2024-03-05"), path)
    return replay(
        spark,
        path,
        datetime(2024, 3, 5) - timedelta(days=1),
        datetime(2024, 3, 6),
        writer,
        parallelism=3,
        mtime_filter=False,
    )


def test_replay_counts_attempted(spark, tmp_path):
    def consume(rows):
        for _ in rows:
            pass

    result = _replay(spark, tmp_path, consume)
    assert result.records_attempted == 25
    assert result.records_failed == 0
    assert result.records_delivered == 25


def test_replay_surfaces_writer_failures(spark, tmp_path):
    """A writer reporting give-ups (like the Kinesis sink after its 30 s
    budget) shows up in the result. Failure rule is content-based so the
    count is partition-layout-independent."""
    from datetime import datetime as dt
    from datetime import timedelta as td

    from pyspark.sql import Row

    from kinesis_vcr_spark.model import RECORD_SCHEMA

    rows = [
        Row(
            data=f"rec-{i}".encode(),
            sequence_number=str(i).zfill(20),
            partition_key=f"pk-{i}",
            shard_id="s0",
            arrival_ts=dt(2024, 3, 5) + td(seconds=i),
        )
        for i in range(25)
    ]
    path = str(tmp_path / "arc2")
    write_archive(spark.createDataFrame(rows, RECORD_SCHEMA), path)

    def flaky(record_rows):
        # give up on payloads ending in '0': rec-0, rec-10, rec-20
        return sum(1 for r in record_rows if bytes(r["data"]).endswith(b"0"))

    result = replay(
        spark, path, dt(2024, 3, 4), dt(2024, 3, 6), flaky,
        parallelism=3, mtime_filter=False,
    )
    assert result.records_attempted == 25
    assert result.records_failed == 3
    assert result.records_delivered == 22


def test_replay_with_kinesis_fake_sink(spark, tmp_path):
    """End-to-end through the real batcher+retry writer with an
    injectable put_records that always succeeds. The one archived record
    over the 1 MB batch cap is dropped by the batcher and must count as
    failed, not delivered."""

    def fake_put_factory():
        def put(StreamName, Records):
            return {"FailedRecordCount": 0, "Records": [{} for _ in Records]}

        return put

    writer = kinesis_partition_writer("target", fake_put_factory)
    result = _replay(spark, tmp_path, writer, oversize=1)
    assert result.records_attempted == 26
    assert result.records_failed == 1
    assert result.records_delivered == 25


def test_replay_dedup_drops_duplicate_payloads(spark, tmp_path):
    """SURVEY §7.4 item 4: reference archives are at-least-once (a
    failed emit redelivers the whole buffer), so dedup=True must
    collapse duplicate payloads before the sink; default replays
    faithfully."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "arc")
    # DISTINCT payloads (make_records' default is n identical ones)
    recs = make_records(spark, n=10, day="2024-03-05").withColumn(
        "data", F.concat(F.col("data"), F.encode("sequence_number", "utf-8"))
    )
    # simulate the reference's duplicate-bearing archive: same batch
    # archived twice (append mode)
    write_archive(recs, path)
    write_archive(recs, path)

    seen: list = []

    def consume(rows):
        for r in rows:
            seen.append(bytes(r["data"]))

    kwargs = dict(parallelism=2, mtime_filter=False)
    start = datetime(2024, 3, 5) - timedelta(days=1)
    end = datetime(2024, 3, 6)

    plain = replay(spark, path, start, end, consume, **kwargs)
    assert plain.records_attempted == 20  # faithful: duplicates kept

    deduped = replay(spark, path, start, end, consume, dedup=True, **kwargs)
    assert deduped.records_attempted == 10


def test_replay_chaos_partial_failures_reconcile(spark, tmp_path):
    """Chaos e2e (reference KinesisPlayer.java:122-155 semantics): the
    fake put_records fails a deterministic ~40% of entries on their first
    attempt (retryable — they succeed when put_with_retry resubmits only
    the failed slice) and a fixed content-based 10% permanently (budget
    exhaustion → give-up). ReplayResult accounting must reconcile EXACTLY
    with what the sink actually delivered: every non-permanent payload
    lands exactly once (retry never re-sends an already-accepted entry),
    delivered bytes match, and records_failed equals the permanent set.

    All rules are content-hash based (md5 of the payload), so the outcome
    is independent of partition layout and batch boundaries.
    """
    import base64
    import hashlib
    import os
    import uuid as uuid_mod
    from datetime import datetime as dt
    from datetime import timedelta as td

    from pyspark.sql import Row

    from kinesis_vcr_spark.model import RECORD_SCHEMA

    rows = [
        Row(
            data=f"chaos-rec-{i:03d}".encode(),
            sequence_number=str(i).zfill(20),
            partition_key=f"pk-{i}",
            shard_id=f"s{i % 4}",
            arrival_ts=dt(2024, 3, 5) + td(seconds=i),
        )
        for i in range(60)
    ]
    path = str(tmp_path / "arc_chaos")
    write_archive(spark.createDataFrame(rows, RECORD_SCHEMA), path)

    deliver_dir = tmp_path / "delivered"
    deliver_dir.mkdir()

    def is_permanent(payload: bytes) -> bool:
        return payload.endswith(b"7")  # 007,017,...,057 → 6 records

    def is_transient(payload: bytes) -> bool:
        return int(hashlib.md5(payload).hexdigest(), 16) % 100 < 40

    def fake_put_factory(deliver_dir=str(deliver_dir)):
        seen: set[bytes] = set()  # per-partition retry memory

        def put(StreamName, Records):
            assert StreamName == "target"
            results, delivered, failed_n = [], [], 0
            for entry in Records:
                payload = bytes(entry["Data"])
                if is_permanent(payload) or (
                    is_transient(payload) and payload not in seen
                ):
                    results.append({"ErrorCode": "InternalFailure"})
                    failed_n += 1
                else:
                    results.append({"SequenceNumber": "1"})
                    delivered.append(payload)
                seen.add(payload)
            if delivered:
                fname = os.path.join(deliver_dir, uuid_mod.uuid4().hex)
                with open(fname, "wb") as f:
                    f.write(
                        b"".join(base64.b64encode(p) + b"\n" for p in delivered)
                    )
            return {"FailedRecordCount": failed_n, "Records": results}

        return put

    writer = kinesis_partition_writer(
        "target", fake_put_factory, budget_seconds=0.5
    )
    result = replay(
        spark,
        path,
        dt(2024, 3, 4),
        dt(2024, 3, 6),
        writer,
        parallelism=3,
        mtime_filter=False,
    )

    all_payloads = [bytes(r.data) for r in rows]
    permanents = {p for p in all_payloads if is_permanent(p)}
    assert len(permanents) == 6

    # accounting reconciles with the archive
    assert result.records_attempted == 60
    assert result.records_failed == len(permanents)
    assert result.records_delivered == 60 - len(permanents)

    # ...and with what the sink actually accepted: exactly-once delivery
    # of every non-permanent payload, byte-for-byte
    delivered: list[bytes] = []
    import base64 as b64

    for fname in os.listdir(deliver_dir):
        with open(deliver_dir / fname, "rb") as f:
            delivered.extend(b64.b64decode(line) for line in f if line.strip())
    assert sorted(delivered) == sorted(set(all_payloads) - permanents)
    assert sum(len(p) for p in delivered) == sum(
        len(p) for p in all_payloads if p not in permanents
    )
