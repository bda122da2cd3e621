"""Streaming ANN ingest against the persisted IVF index — similarity
search over a continuously-growing vector corpus.

The vector twin of :mod:`kinesis_vcr_spark.streaming.neardup`: each
micro-batch of vectors is APPENDED to the persisted IVF index
(:mod:`kinesis_vcr_spark.operators.ivf` — assignment against FROZEN
centroids, O(batch) work) and then PROBED for its top-k nearest
neighbors among everything seen so far (its own batch included), with
results landing in an append-only parquet sink. Centroids are trained
once, on the first batch, and frozen thereafter — the production IVF
discipline (retrain offline when list balance drifts; the
``append_ivf_index`` docstring carries the monitoring contract).

Ordering note — append BEFORE probe, the reverse of neardup's
probe-then-append: ``near_dup_against_index`` unions the batch into
the probe population itself, so there the index must NOT already hold
the batch (a crash-replay would double every pair). Here the probe
target IS the index, so appending first (a) gives the probe its own
batch for free and (b) makes the whole trigger idempotent without any
exclude-scope machinery: a replay re-appends into the batch's own
overwrite scope and re-probes identical state.

Semantics contract (pinned in tests/test_streaming_ann.py): batch i's
emitted rows equal ``ivf_topk_indexed`` over an index holding batches
0..i with the same (first-batch) centroids — prefix semantics,
arrival-order dependent by nature, exactly like a production ANN
ingest pipeline. After the stream drains, a probe of the accumulated
index is identical to a probe of a batch-built index over the full
corpus with those centroids (the frozen-centroid parity already
pinned for ``append_ivf_index``).

Scale posture: per trigger, one Pandas-UDF assignment over the batch
(numpy matmul per Arrow batch), one scoped parquet write, and a probe
whose ``cid`` equi-join prunes the stored scan to the probed lists —
the index grows by exactly the batch, and nothing ever re-assigns the
accumulated corpus. State compaction: :func:`compact_ann_state`
collapses the per-batch scopes (same drained-stream swap contract as
every scoped state dir in this engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.ivf import (
    append_ivf_index,
    build_ivf_index,
    ivf_topk_indexed,
    load_ivf_index,
)
from kinesis_vcr_spark.streaming import ingest

_DEFAULT_PROGRESS = {"last_batch_id": -1, "results_emitted": 0, "vecs_indexed": 0}


def read_ann_progress(
    state_dir: str, spark: SparkSession | None = None
) -> dict:
    """Cumulative counters: last applied batch id, result rows emitted,
    vectors indexed."""
    return ingest.read_progress(state_dir, _DEFAULT_PROGRESS, spark)


def compact_ann_state(spark, state_dir: str, results_path: str) -> None:
    """Compact what a long-lived ANN ingest stream accumulates — the
    IVF index's per-batch list scopes AND the results sink. Run against
    a DRAINED or paused stream only (see
    :func:`~kinesis_vcr_spark.operators.compaction.compact_scoped_state`
    for the swap contract); probes and later appends are unaffected —
    every read path drops the ``ingest`` provenance column."""
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state
    from kinesis_vcr_spark.operators.ivf import compact_ivf_index

    compact_ivf_index(spark, f"{state_dir}/index")
    compact_scoped_state(spark, results_path)


def apply_ann_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    results_path: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    k_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Apply one micro-batch: append to the index (first batch also
    trains the centroids), probe the accumulated index for the batch's
    top-k neighbors, write results into the batch's own overwrite
    scope, then bump the progress watermark. Public so a replay after
    a simulated crash can be driven directly in tests — every step
    before the watermark bump is idempotent by overwrite scope."""
    index_path = f"{state_dir}/index"

    def step(batch_df, label, progress):
        if progress["last_batch_id"] < 0:
            # first APPLIED batch: train centroids and build. Gated on the
            # progress watermark, NOT on the centroids dir existing — a
            # crash-replay of the first batch must rebuild (overwriting
            # _base identically; the build clears stale lists first), not
            # fall through to append and hold the batch twice
            build_ivf_index(
                batch_df, index_path, k_centroids=k_centroids,
                id_col=id_col, vec_col=vec_col,
            )
        else:
            append_ivf_index(
                batch_df, index_path, id_col=id_col, vec_col=vec_col,
                ingest_label=label,
            )
        index = load_ivf_index(batch_df.sparkSession, index_path)
        queries = batch_df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col)
        )
        results = ivf_topk_indexed(
            index, queries, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, query_id_col="query_id",
        )
        n_rows = ingest.write_scope(results, results_path, label)["rows"]
        return {"results_emitted": n_rows, "vecs_indexed": batch_df.count()}

    ingest.apply(batch_df, batch_id, state_dir, _DEFAULT_PROGRESS, step)


def streaming_ann_ingest(
    vectors: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    results_path: str,
    *,
    k: int = 10,
    nprobe: int = 4,
    k_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Start the append-then-probe loop over a streaming vector frame.
    The index lives under ``{state_dir}/index``; per-vector top-k rows
    ``(query_id, vec_id, cosine, rank)`` append to ``results_path``
    (parquet, one overwrite scope per micro-batch). Vector ids must be
    unique across the whole stream (the ingest key) — a re-delivered
    batch is skipped whole via the batch-id watermark, duplicate ids
    ACROSS batches are the caller's contract, exactly as for the batch
    index."""
    return ingest.start(vectors, checkpoint_dir, lambda b, i: apply_ann_batch(
        b, i, state_dir, results_path, k=k, nprobe=nprobe,
        k_centroids=k_centroids, id_col=id_col, vec_col=vec_col,
    ))
