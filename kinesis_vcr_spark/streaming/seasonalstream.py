"""Streaming seasonal anomaly detection — the E113 seasonal med/MAD
detector (operators/seasonal.py) as a continuously-ingesting stream.

Per micro-batch (the streaming twins' loop shape): reduce
the batch to per-(key, day) EXACT-DECIMAL delta sums, append them as
an ingest-scoped state partition, merge the accumulated deltas into
the current daily table, score it with the batch operator's own
``scores_from_daily`` (bit-identical arithmetic), and emit the full
score SNAPSHOT to an ingest-scoped sink. The state is the daily
table's mergeable sufficient statistic — O(keys × days) regardless of
event volume, so re-scoring per batch is driver-cheap even when the
ingested stream is not.

Ordering contract: decimal sums are commutative and associative, so
batches may arrive in ANY order (late data for an old day simply
merges into that day's total and the next snapshot re-scores it). A
first-seen stream would need monotone ingest ids; the seasonal twin
has no such guard because it needs none — pinned by the out-of-order
test.

Exactness contract (tests/test_seasonalstream.py): after the stream
drains, the LATEST snapshot equals ``seasonal_scores`` over the union
of every ingested event, bit-for-bit — the delta state stores
unrounded ``DECIMAL`` partials and rounding happens once at score
time, exactly where the batch operator rounds.

Append-then-merge: the merge reads ALL delta scopes including the
batch's own (overwrite-then-read is self-correcting under replay).
Delta scopes are cast to DECIMAL(38,4) before writing so every scope —
including a compacted one — carries one stable schema.

No reference counterpart; additive engine layer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.seasonal import EPOCH, scores_from_daily
from kinesis_vcr_spark.streaming import ingest


def _daily_path(state_dir: str) -> str:
    return f"{state_dir}/state/daily"


def merged_daily(
    spark: SparkSession, state_dir: str, key_cols: Sequence[str]
) -> DataFrame:
    """The current daily table from the accumulated delta scopes:
    (keys…, d, dow, total) with the batch operator's exact rounding —
    sum the unrounded DECIMAL partials, round ONCE."""
    keys = list(key_cols)
    return (
        spark.read.parquet(_daily_path(state_dir))
        .groupBy(*keys, "d")
        .agg(F.round(F.sum("delta"), 4).cast("double").alias("total"))
        .withColumn("dow", F.datediff(F.col("d"), F.lit(EPOCH)) % 7)
    )


def read_current_scores(
    spark: SparkSession, scores_path: str
) -> DataFrame:
    """The latest snapshot — scopes are ``ingest=b{N}``; the current
    answer is the highest N (each snapshot supersedes the previous,
    unlike the delta-union sinks of the other streaming loops)."""
    all_scopes = spark.read.parquet(scores_path)
    latest = (
        all_scopes.select(
            F.max(F.regexp_extract("ingest", r"b(\d+)", 1).cast("long")).alias(
                "n"
            )
        ).first()["n"]
    )
    return all_scopes.where(
        F.regexp_extract("ingest", r"b(\d+)", 1).cast("long") == latest
    ).drop("ingest")


def compact_seasonal_state(spark: SparkSession, state_dir: str) -> None:
    """Merge the per-batch delta scopes into one — for the daily state
    the compaction can AGGREGATE (sum deltas per (keys, d)), shrinking
    state to the live daily table instead of merely concatenating
    scopes. Snapshot sinks are NOT compacted: each scope there is the
    as-of answer after its batch (history, not state) — prune old
    snapshots by retention policy, not by merge. Drained/paused
    streams only (the compact_scoped_state swap contract)."""
    from kinesis_vcr_spark.operators.compaction import (  # noqa: PLC0415
        compact_scoped_state,
    )

    def merge(df: DataFrame) -> DataFrame:
        group = [c for c in df.columns if c not in ("delta", "ingest")]
        return df.groupBy(*group).agg(
            F.sum("delta").cast("decimal(38,4)").alias("delta")
        )

    compact_scoped_state(spark, _daily_path(state_dir), aggregate_fn=merge)


def seasonal_step(
    state_dir: str,
    scores_path: str,
    *,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
):
    """The merge-then-score step: append a batch's per-(key, day)
    unrounded decimal delta sums as a scope of
    ``{state_dir}/state/daily``, merge the accumulated deltas and write
    the full score snapshot ``(keys…, d, dow, total, med, mad, dev)``
    under ``{scores_path}/ingest=b{N}``. Counter:
    ``events_ingested``."""
    keys = list(key_cols)
    daily_path = _daily_path(state_dir)

    def step(batch_df, label, progress):
        delta = (
            batch_df.groupBy(
                *keys, F.to_date(F.col(ts_col)).alias("d")
            )
            .agg(
                F.sum(F.col(value_col).cast("decimal(18,4)"))
                .cast("decimal(38,4)")
                .alias("delta")
            )
        )
        ingest.write_scope(delta, daily_path, label)
        scores = scores_from_daily(
            merged_daily(batch_df.sparkSession, state_dir, keys), keys
        )
        ingest.write_scope(scores, scores_path, label)
        return {"events_ingested": batch_df.count()}

    return step


__all__ = [
    "compact_seasonal_state",
    "merged_daily",
    "read_current_scores",
    "seasonal_step",
]
