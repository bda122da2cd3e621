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

from kinesis_vcr_spark.operators.spandedup import (
    DEFAULT_MIN_SPAN,
    append_gram_index,
    span_probe_index,
)
from kinesis_vcr_spark.streaming import ingest


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


def span_step(
    state_dir: str,
    spans_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_SPAN,
):
    """The append-then-probe step: append a batch's capped gram counts
    to the index under ``{state_dir}/index``, probe the accumulated
    index for the batch's duplicated spans and write them
    ``(id, span_start, span_end)`` into the batch's own overwrite scope
    of ``spans_path``. Document ids must be unique across the whole
    stream. Counters: ``spans_emitted``, ``docs_indexed``."""
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

    return step
