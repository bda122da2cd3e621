"""streaming/seasonalstream.py — streamed seasonal scores == batch
seasonal_scores over the ingested union; out-of-order merge; restart
and crash-replay idempotence; state compaction."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.seasonal import seasonal_scores
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.seasonalstream import (
    compact_seasonal_state,
    merged_daily,
    read_current_scores,
    seasonal_step,
)

KEYS = ["event_type"]
SCHEMA = "event_id long, ts timestamp, event_type string, value double"


@pytest.fixture(scope="module")
def events(spark):
    """Four weeks, two event types, a planted 10x spike on the third
    Monday of type 'a', week-to-week jitter for nonzero MADs, and a
    constant type 'b' (MAD-0 stratum) — the batch-operator fixture."""
    rows = []
    base = datetime.datetime(2024, 1, 1, 12, 0)  # a Monday
    eid = 0
    for day in range(28):
        ts = base + datetime.timedelta(days=day)
        spike = 10.0 if day == 14 else 1.0
        jitter = 0.1 * ((day // 7) % 4)
        for _ in range(3):
            rows.append((eid, ts, "a", (2.0 + jitter) * spike)); eid += 1
            rows.append((eid, ts, "b", 5.0)); eid += 1
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df):
    return sorted(
        (
            r["event_type"],
            str(r["d"]),
            r["dow"],
            r["total"],
            r["med"],
            r["mad"],
            r["dev"],
        )
        for r in df.collect()
    )


def _write_batches(events, src, day_ranges):
    """One file per (lo, hi] day-of-month slice, in list order — the
    file source with maxFilesPerTrigger=1 replays them as separate
    micro-batches in exactly this order."""
    for i, (lo, hi) in enumerate(day_ranges):
        part = events.where(
            (F.dayofmonth("ts") > lo) & (F.dayofmonth("ts") <= hi)
        )
        part.coalesce(1).write.parquet(f"{src}/f{i}.parquet")


def _run(spark, src, state, ckpt, scores):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ingest.start(
        stream, ckpt, state, seasonal_step(state, scores, key_cols=KEYS)
    )
    q.awaitTermination(600)


def test_streamed_snapshot_equals_batch(spark, events, tmp_path):
    src, state, ckpt, scores = (
        str(tmp_path / d) for d in ("src", "state", "ckpt", "scores")
    )
    _write_batches(events, src, [(0, 10), (10, 20), (20, 31)])
    _run(spark, src, state, ckpt, scores)

    got = _rows(read_current_scores(spark, scores))
    want = _rows(seasonal_scores(events, KEYS))
    assert got == want
    prog = ingest.read_progress(state, spark)
    assert prog["events_ingested"] == events.count()
    assert prog["last_batch_id"] >= 2


def test_out_of_order_ingest_converges(spark, events, tmp_path):
    """Late data is legal: day slices arrive SHUFFLED (middle weeks
    last) and the final snapshot still equals the batch answer —
    the mergeable-decimal-state contrast to the novelty stream's
    monotone-id guard."""
    src, state, ckpt, scores = (
        str(tmp_path / d) for d in ("src", "state", "ckpt", "scores")
    )
    _write_batches(events, src, [(20, 31), (0, 10), (10, 20)])
    _run(spark, src, state, ckpt, scores)

    got = _rows(read_current_scores(spark, scores))
    want = _rows(seasonal_scores(events, KEYS))
    assert got == want


def test_restart_is_idempotent(spark, events, tmp_path):
    src, state, ckpt, scores = (
        str(tmp_path / d) for d in ("src", "state", "ckpt", "scores")
    )
    _write_batches(events, src, [(0, 14), (14, 31)])
    _run(spark, src, state, ckpt, scores)
    before = _rows(read_current_scores(spark, scores))
    prog_before = ingest.read_progress(state, spark)

    # restart over the same checkpoint: no new files -> no new scopes
    _run(spark, src, state, ckpt, scores)
    assert _rows(read_current_scores(spark, scores)) == before
    assert ingest.read_progress(state, spark) == prog_before


def test_crash_replay_is_idempotent(
    spark, events, tmp_path, replays_identically
):
    """A committed batch replayed and a half-applied one re-run both
    land the uncrashed run's delta scopes, snapshots and progress."""
    state = f"{tmp_path}/state"
    rows, progress = replays_identically(
        tmp_path, seasonal_step(state, f"{tmp_path}/scores", key_cols=KEYS),
        events.where(F.dayofmonth("ts") <= 14),
        events.where(F.dayofmonth("ts") > 14),
    )
    assert "scores/ingest=b1" in rows
    assert progress["events_ingested"] == events.count()


def test_intermediate_snapshot_is_prefix_answer(spark, events, tmp_path):
    """Each scope is the as-of answer: the FIRST batch's snapshot
    equals the batch operator over that batch's events alone."""
    src, state, ckpt, scores = (
        str(tmp_path / d) for d in ("src", "state", "ckpt", "scores")
    )
    _write_batches(events, src, [(0, 14), (14, 31)])
    _run(spark, src, state, ckpt, scores)

    first = spark.read.parquet(scores).where(
        F.col("ingest") == "b0"
    ).drop("ingest")
    want = seasonal_scores(
        events.where(F.dayofmonth("ts") <= 14), KEYS
    )
    assert _rows(first) == _rows(want)


def test_compaction_preserves_state(spark, events, tmp_path):
    src, state, ckpt, scores = (
        str(tmp_path / d) for d in ("src", "state", "ckpt", "scores")
    )
    _write_batches(events, src, [(0, 10), (10, 20), (20, 31)])
    _run(spark, src, state, ckpt, scores)
    daily_before = sorted(
        (r["event_type"], str(r["d"]), r["dow"], r["total"])
        for r in merged_daily(spark, state, KEYS).collect()
    )
    snapshot = _rows(read_current_scores(spark, scores))

    compact_seasonal_state(spark, state)

    daily_after = sorted(
        (r["event_type"], str(r["d"]), r["dow"], r["total"])
        for r in merged_daily(spark, state, KEYS).collect()
    )
    assert daily_after == daily_before
    # one merged scope, and re-scoring the compacted state still
    # reproduces the drained snapshot bit-for-bit
    from kinesis_vcr_spark.operators.seasonal import scores_from_daily

    assert (
        _rows(scores_from_daily(merged_daily(spark, state, KEYS), KEYS))
        == snapshot
    )
