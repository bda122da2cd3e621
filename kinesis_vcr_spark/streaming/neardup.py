"""Streaming near-duplicate detection against the persisted MinHash
index — corpus dedup as a continuously-ingesting stream.

Composes the two round-6 pieces into the daily-ingest loop run as a
Structured Streaming query instead of a scheduled batch job: each
micro-batch of documents is PROBED against the persisted index
(:mod:`kinesis_vcr_spark.operators.dedup_index` — new×indexed plus
within-batch pairs, exact-Jaccard verified, O(batch) LSH work) and
then APPENDED to the index, so the next batch sees it. Emitted pairs
land in an append-only parquet sink.

Exactness contract (pinned in tests/test_streaming_neardup.py): with
``band_member_cap=None``, after the stream drains the UNION of emitted
pairs over all micro-batches equals ``near_dup_pairs_minhash`` over
the full corpus — every pair (a, b) is emitted exactly once, by the
micro-batch that completes it (the later document's batch, or their
shared batch). With a finite cap the streaming run can only see each
band's PREFIX population at probe time, so cap decisions are
arrival-order-dependent — leave the cap off for parity-critical runs,
or accept the documented LSH-style bounded divergence.

Probe-then-append: the probe excludes the batch's own index scope, so
a replay after the index append but before the watermark bump probes
the index the lost run probed instead of pairing the batch with itself.

Scale posture: per trigger the work is the batch's LSH (linear) + an
equi-join against the stored band table + verification joins against
the stored shingle sets pruned to candidate ids — the index grows by
exactly the batch, and nothing ever re-hashes the accumulated corpus.
"""

from __future__ import annotations

from kinesis_vcr_spark.fsutil import path_exists
from kinesis_vcr_spark.operators.dedup import (
    DEFAULT_BAND_MEMBER_CAP,
    near_dup_pairs_minhash,
)
from kinesis_vcr_spark.operators.dedup_index import (
    build_near_dup_index,
    load_near_dup_index,
    near_dup_against_index,
)
from kinesis_vcr_spark.streaming import ingest


def compact_neardup_state(spark, state_dir: str, pairs_path: str) -> None:
    """Compact everything a long-lived near-dup stream accumulates —
    the index's band/shingle scopes AND the pairs sink (one scope per
    micro-batch each; VERDICT r06 item 6). Run against a DRAINED or
    paused stream only (see
    :func:`~kinesis_vcr_spark.operators.compaction.compact_scoped_state`
    for the swap contract); the progress watermark, later probes, and
    later appends are unaffected — every read path drops the ``ingest``
    provenance column, and batch labels never collide with
    ``_compacted``."""
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state
    from kinesis_vcr_spark.operators.dedup_index import (
        compact_near_dup_index,
    )

    compact_near_dup_index(spark, f"{state_dir}/index")
    compact_scoped_state(spark, pairs_path)


def neardup_step(
    state_dir: str,
    pairs_path: str,
    *,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    char_ngrams: bool = False,
    band_member_cap: int | None = DEFAULT_BAND_MEMBER_CAP,
):
    """The probe-then-append step: probe a batch against the index
    under ``{state_dir}/index`` (the first batch pairs within itself
    and builds the index), write the emitted pairs
    ``(id_a, id_b, jaccard)`` into the batch's own overwrite scope of
    ``pairs_path``, then append the batch to the index. Document ids
    must be unique across the whole stream (the ingest key); duplicate
    ids ACROSS batches are the caller's contract, exactly as for the
    batch index. Counters: ``pairs_emitted``, ``docs_indexed``."""
    index_path = f"{state_dir}/index"
    params = dict(
        shingle_size=shingle_size, num_hashes=num_hashes,
        bands=bands, char_ngrams=char_ngrams,
    )

    def step(batch_df, label, progress):
        spark = batch_df.sparkSession
        if not path_exists(spark, f"{index_path}/meta"):
            # first batch: within-batch pairs via the batch pipeline
            # (identical expressions → identical pairs), then the
            # initial index build
            pairs = near_dup_pairs_minhash(
                batch_df, id_col, text_col, threshold=threshold,
                band_member_cap=band_member_cap, **params,
            ).select("id_a", "id_b", "jaccard")
            append = False
        else:
            # exclude THIS batch's own ingest scope from the probe: a
            # crash after the index append but before the progress bump
            # replays the batch against an index that already holds its
            # documents, and a doubled shingle set would duplicate
            # every pair row (ADVICE r06)
            idx = load_near_dup_index(spark, index_path, exclude_ingest=label)
            pairs = near_dup_against_index(
                batch_df, idx, id_col, text_col,
                threshold=threshold, band_member_cap=band_member_cap,
            )
            append = True
        n_pairs = ingest.write_scope(pairs, pairs_path, label)["rows"]
        build_near_dup_index(
            batch_df, index_path, id_col, text_col,
            append=append, ingest_label=label, **params,
        )
        return {"pairs_emitted": n_pairs, "docs_indexed": batch_df.count()}

    return step
