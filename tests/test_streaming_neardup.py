"""Streaming near-dup against the persisted index
(streaming/neardup.py): union of per-batch emissions == full-corpus
batch dedup, restart idempotence, crash-replay idempotence, progress
accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup import near_dup_pairs_minhash
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.neardup import neardup_step
from kinesis_vcr_spark.tables import load_table

KW = dict(shingle_size=3, num_hashes=64, bands=16, char_ngrams=False)
THRESHOLD = 0.6


def _pairs_set(df):
    return {
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in df.select("id_a", "id_b", "jaccard").collect()
    }


def _step(state, pairs):
    return neardup_step(
        state, pairs, id_col="doc_id", text_col="text",
        threshold=THRESHOLD, band_member_cap=None, **KW,
    )


def _run(spark, src, state, ckpt, pairs):
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ingest.start(stream, ckpt, state, _step(state, pairs))
    q.awaitTermination(600)


def test_streamed_corpus_equals_batch_dedup(spark, sf_dir, tmp_path):
    """Three micro-batches of the documents fixture: the union of
    emitted pairs must equal near_dup_pairs_minhash over the whole
    corpus (cap=None) — each pair emitted exactly once by the batch
    that completes it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.parquet(
            f"{src}/f{i}.parquet"
        )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    pairs_path = str(tmp_path / "pairs")

    _run(spark, src, state, ckpt, pairs_path)

    got = _pairs_set(spark.read.parquet(pairs_path))
    expected = _pairs_set(
        near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=THRESHOLD,
            band_member_cap=None, **KW,
        )
    )
    assert expected, "fixture produced no near-dup pairs"
    assert got == expected

    progress = ingest.read_progress(state)
    assert progress["pairs_emitted"] == len(expected)
    assert progress["docs_indexed"] == docs.count()
    assert progress["last_batch_id"] >= 2  # three triggers

    # restart with no new data: nothing re-emitted, index unchanged
    _run(spark, src, state, ckpt, pairs_path)
    assert _pairs_set(spark.read.parquet(pairs_path)) == expected
    assert ingest.read_progress(state)["docs_indexed"] == docs.count()

    # a late batch containing an edited clone of an old doc links back
    late = (
        docs.where(F.col("doc_id") < 5)
        .select(
            (F.col("doc_id") + F.lit(7_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        )
    )
    late.coalesce(1).write.parquet(f"{src}/f9.parquet")
    _run(spark, src, state, ckpt, pairs_path)
    full = docs.unionByName(late)
    expected_full = _pairs_set(
        near_dup_pairs_minhash(
            full, "doc_id", "text", threshold=THRESHOLD,
            band_member_cap=None, **KW,
        )
    )
    assert len(expected_full) > len(expected)
    assert _pairs_set(spark.read.parquet(pairs_path)) == expected_full


def test_crash_replay_is_idempotent(
    spark, sf_dir, tmp_path, replays_identically
):
    """A committed batch replayed and a half-applied one re-run both
    land the uncrashed run's pairs, index scopes and progress."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows, progress = replays_identically(
        tmp_path, _step(f"{tmp_path}/state", f"{tmp_path}/pairs"),
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )
    assert "pairs/ingest=b1" in rows
    assert progress["docs_indexed"] == docs.count()
