"""Streaming ingest into the persisted BM25 search index — ranked
retrieval over a continuously-growing corpus.

The text-search member of the streaming-index family
(streaming/neardup.py, streaming/annstream.py,
streaming/spanstream.py): each micro-batch of documents is APPENDED to
the inverted index (its aggregated postings + one stats row — O(batch)
work) and a standing query's BM25 top-k is re-evaluated against
everything ingested so far, the batch included. Each batch's snapshot
lands in its own scope of the results sink, so the sink holds the full
history of the ranking as the corpus grew.

Append-before-probe (the annstream/spanstream discipline): BM25 is a
whole-corpus statistic — the batch's own documents must be inside N,
avgdl and the df counts for the snapshot to equal the batch query over
the union. A replay re-appends into the batch's own scopes, so its
probe sees exactly the index state the lost run saw (postings and
stats are written before the probe runs).

Semantics contract (pinned in tests/test_searchstream.py): batch i's
snapshot equals ``bm25_search``-over-the-union-of-batches-0..i —
i.e. ``search_index_topk`` after a cold batch build of the same
documents; the LAST snapshot equals the batch answer over the whole
stream. Document ids must be unique across the stream (the shared
index-family contract).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.searchindex import (
    BM25_B,
    BM25_K1,
    append_search_index,
    build_search_index,
    search_index_topk,
)
from kinesis_vcr_spark.streaming import ingest


def compact_search_state(spark, state_dir: str, results_path: str) -> None:
    """Compact the index scopes AND the snapshot sink of a DRAINED or
    paused stream (one scope per micro-batch each); probes and history
    reads are scope-count-agnostic, so results are byte-identical
    after."""
    from kinesis_vcr_spark.operators.searchindex import (
        compact_search_index,
    )
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    compact_search_index(spark, f"{state_dir}/index")
    compact_scoped_state(spark, results_path)


def search_step(
    state_dir: str,
    results_path: str,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    n_buckets: int = 16,
):
    """The append-then-rank step: append a batch's postings to the
    inverted index under ``{state_dir}/index`` (the first applied batch
    performs the fresh build: meta + first scope), re-rank the standing
    query ``terms`` over the accumulated index and write the BM25
    snapshot ``(doc_id, bm25, n_terms_hit, batch_id)`` into the batch's
    own overwrite scope of ``results_path``. Counters:
    ``docs_indexed``, ``snapshots``."""
    index_path = f"{state_dir}/index"

    def step(batch_df, label, progress):
        if progress["last_batch_id"] < 0:
            build_search_index(
                batch_df, index_path, id_col, text_col,
                n_buckets=n_buckets, ingest_label=label,
            )
        else:
            append_search_index(
                batch_df, index_path, id_col, text_col, ingest_label=label
            )
        snap = search_index_topk(
            batch_df.sparkSession, index_path, terms, k=k, k1=k1, b=b
        ).withColumn("batch_id", F.lit(int(label[1:])).cast("long"))
        ingest.write_scope(snap, results_path, label)
        return {"docs_indexed": batch_df.count(), "snapshots": 1}

    return step
