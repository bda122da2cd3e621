"""The idempotent-ingest harness every streaming ingest loop runs on.

A loop is one step factory, ``<x>_step(paths…, *, params)``, that
returns the closure ``step(batch_df, label, progress) -> increments``;
this module supplies everything around it. ``apply(batch_df, batch_id,
state_dir, step)`` runs one micro-batch (tests drive crash-replays with
it), ``start(df, checkpoint_dir, state_dir, step)`` runs a streaming
frame through ``apply`` and ``read_progress(state_dir)`` reads the
watermark and counters. The replay contract is stated here once, and
each loop's module docstring states only its own write ordering and
semantics:

- **Watermark skip.** ``{state_dir}/progress.json`` holds the last
  applied batch id next to the loop's cumulative counters.
  ``foreachBatch`` is at-least-once on restart; a batch id at or below
  the watermark is skipped whole, launching no Spark job.
- **Overwrite scopes.** Every per-batch write lands in the batch's own
  ``ingest=b{id}`` scope and overwrites it, so a crash anywhere between
  the first write and the watermark bump replays into identical bytes.
  A loop that probes state it also appends to reads every scope except
  its own (:func:`~kinesis_vcr_spark.statefs.read_scopes`), so a
  half-applied batch never sees itself.
- **Counters from the write.** Every counter is an additive increment
  the step returns; the watermark bump adds them in the same atomic
  rewrite that moves ``last_batch_id``. Scope row counts come from an
  ``Observation`` on the scope write itself, not from re-reading it.
- **FS-agnostic state.** The watermark and scope discovery go through
  the Hadoop FileSystem API (statefs.py), so ``state_dir`` may be any
  Spark-writable URI (``file:``, ``hdfs:``, ``s3a:``).

Each applied or skipped batch logs one INFO JSON record on this module's
logger: loop, ``batch_id``, counter increments, replay-skipped flag and
seconds.

This is D-Streams' deterministic recomputation of a lost batch plus
Structured Streaming's idempotent sinks. The reference keeps the same
checkpointed progress in the KCL lease table
(…/kinesis/KinesisRecorder.java:27-28).
"""

from __future__ import annotations

import json
import logging
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark import statefs

_LOG = logging.getLogger(__name__)


def read_progress(state_dir: str, spark: SparkSession | None = None) -> dict:
    """The loop's watermark and cumulative counters:
    ``{"last_batch_id": -1}`` before the first applied batch, and a
    counter appears with the first increment a step returns for it."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("ingest progress needs an active SparkSession")
    return statefs.read_json_state(
        spark, f"{state_dir}/progress.json", {"last_batch_id": -1}
    )


def apply(batch_df: DataFrame, batch_id: int, state_dir: str, step) -> None:
    """Apply one micro-batch: skip it if the watermark already covers
    ``batch_id``, else run ``step`` under the label ``b{batch_id}`` and
    bump the watermark by the increments it returns. The log record
    names the loop after the step's module and its factory."""
    t0 = time.perf_counter()
    spark = batch_df.sparkSession
    progress = read_progress(state_dir, spark)
    skipped = batch_id <= progress["last_batch_id"]
    increments = {}
    if not skipped:
        increments = step(batch_df, f"b{batch_id}", progress)
        statefs.write_json_state(spark, f"{state_dir}/progress.json", {
            **progress,
            "last_batch_id": batch_id,
            **{k: progress.get(k, 0) + v for k, v in increments.items()},
        })
    _LOG.info(json.dumps({
        "loop": f"{step.__module__.rsplit('.', 1)[-1]}."
                f"{step.__qualname__.split('.', 1)[0]}",
        "batch_id": batch_id,
        "increments": increments,
        "replay_skipped": skipped,
        "seconds": round(time.perf_counter() - t0, 3),
    }))


def write_scope(
    df: DataFrame, root: str, label: str, **metrics: Column
) -> dict[str, int]:
    """Overwrite ``root/ingest={label}`` with ``df``. Returns ``rows``
    written plus each named aggregate in ``metrics``, all observed on
    that same write (no extra job)."""
    obs = Observation()
    df.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        *(c.alias(name) for name, c in metrics.items()),
    ).write.mode("overwrite").parquet(f"{root}/ingest={label}")
    return obs.get


def start(df: DataFrame, checkpoint_dir: str, state_dir: str, step):
    """Start ``step`` over the streaming frame ``df``, one :func:`apply`
    per micro-batch, draining what is available and then stopping."""
    return (
        df.writeStream.foreachBatch(
            lambda batch_df, batch_id: apply(batch_df, batch_id, state_dir, step)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
