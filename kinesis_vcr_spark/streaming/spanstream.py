"""Streaming exact-span dedup against the persisted gram-count index —
ExactSubstr dedup as a continuously-ingesting stream.

Completes the family symmetry: near-dup (E2/E81/E83) and ANN
(E21/E87) each have a batch operator, a persisted index, and a
streaming ingest loop; this is the streaming loop for exact
duplicate-span removal (E88, operators/spandedup.py). Each
micro-batch of documents is APPENDED to the gram-count index (its
aggregated, capped counts — O(batch) work) and then PROBED: the
batch's maximal duplicated spans against everything seen so far, its
own batch included. Emitted spans land in an append-only parquet sink,
one overwrite scope per micro-batch.

Append-before-probe, like streaming/annstream.py and unlike
streaming/neardup.py: the probe's dup test sums stored per-scope
counts, so holding the batch's own scope is exactly what makes
within-batch duplicates visible, and a replay re-appends into the
batch's own overwrite scope before it re-probes.

Semantics contract (pinned in tests/test_spandedup_stream.py): batch
i's emitted spans equal ``duplicated_spans`` over the UNION of batches
0..i restricted to batch i's documents — prefix semantics; a later
batch can retro-dirty an earlier document's text, which the index can
answer (re-probe the old doc offline) but the sink does not
retroactively patch (same contract as the ANN ingest results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kinesis_vcr_spark.operators.spandedup import (
    DEFAULT_MIN_SPAN,
    append_gram_index,
    span_probe_index,
)
from kinesis_vcr_spark.streaming import ingest

_DEFAULT_PROGRESS = {"last_batch_id": -1, "spans_emitted": 0, "docs_indexed": 0}


def read_span_progress(
    state_dir: str, spark: SparkSession | None = None
) -> dict:
    """Cumulative counters: last applied batch id, span rows emitted,
    documents indexed."""
    return ingest.read_progress(state_dir, _DEFAULT_PROGRESS, spark)


def compact_span_state(spark, state_dir: str, spans_path: str) -> None:
    """Compact the gram-count scopes AND the spans sink of a DRAINED or
    paused stream (one scope per micro-batch each). The gram index gets
    SEMANTIC compaction (:func:`compact_gram_index`): per-gram totals
    re-capped at 2 collapse a gram's k scope rows to one while
    preserving every probe's ``sum(n) >= 2`` answer — the probe-cost
    lever for a long-lived daily stream, whose stored-side scan
    otherwise grows with rows-per-gram × scopes. The spans sink stays
    row-preserving (its rows ARE the results)."""
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state
    from kinesis_vcr_spark.operators.spandedup import compact_gram_index

    compact_gram_index(spark, f"{state_dir}/index")
    compact_scoped_state(spark, spans_path)


def apply_span_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    spans_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_SPAN,
) -> None:
    """Apply one micro-batch: append its capped gram counts, probe the
    accumulated index for the batch's duplicated spans, write them into
    the batch's own overwrite scope, bump the watermark. Public so
    tests can drive crash-replays directly."""
    index_path = f"{state_dir}/index"

    def step(batch_df, label, progress):
        append_gram_index(
            batch_df, index_path, id_col, text_col,
            min_len=min_len, ingest_label=label,
        )
        spans = span_probe_index(
            batch_df, index_path, id_col, text_col, min_len=min_len
        )
        n_spans = ingest.write_scope(spans, spans_path, label)["rows"]
        return {"spans_emitted": n_spans, "docs_indexed": batch_df.count()}

    ingest.apply(batch_df, batch_id, state_dir, _DEFAULT_PROGRESS, step)


def streaming_span_dedup(
    docs: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    spans_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_SPAN,
):
    """Start the append-then-probe loop over a streaming document
    frame. The gram index lives under ``{state_dir}/index``; per-batch
    spans ``(id, span_start, span_end)`` append to ``spans_path``.
    Document ids must be unique across the whole stream — a
    re-delivered batch is skipped whole via the batch-id watermark."""
    return ingest.start(docs, checkpoint_dir, lambda b, i: apply_span_batch(
        b, i, state_dir, spans_path,
        id_col=id_col, text_col=text_col, min_len=min_len,
    ))
