"""Streaming BM25 ingest (streaming/searchstream.py): per-batch
snapshot == index probe over the prefix union, crash-replay
idempotence, restart no-op, compaction parity."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.searchindex import search_index_topk
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.searchstream import (
    compact_search_state,
    search_step,
)
from kinesis_vcr_spark.tables import load_table
from tests.test_searchindex import TERMS, _bm25_over, _rows


def _snap_rows(df):
    return [
        (r["doc_id"], r["bm25"], r["n_terms_hit"])
        for r in df.orderBy(F.col("bm25").desc(), "doc_id").collect()
    ]


def test_streaming_prefix_parity_and_compaction(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.parquet(
            f"{src}/f{i}.parquet"
        )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    results = str(tmp_path / "results")
    step = search_step(state, results, TERMS, k=20)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ingest.start(stream, ckpt, state, step)
    q.awaitTermination(600)

    progress = ingest.read_progress(state)
    assert progress["docs_indexed"] == docs.count()
    assert progress["last_batch_id"] == 2
    assert progress["snapshots"] == 3

    # recover trigger order: each batch is one pmod class; identify it
    # from the indexed scope's doc ids (postings carry doc_id)
    batch_mods = []
    for i in range(3):
        scope = spark.read.parquet(
            f"{state}/index/postings/ingest=b{i}"
        )
        mods = {
            r["m"]
            for r in scope.select(
                F.pmod("doc_id", F.lit(3)).alias("m")
            ).distinct().collect()
        }
        assert len(mods) == 1
        batch_mods.append(next(iter(mods)))
    assert sorted(batch_mods) == [0, 1, 2]

    # batch i's snapshot == batch BM25 over the union of batches 0..i
    prefix = None
    for i, m in enumerate(batch_mods):
        part = docs.where(F.pmod("doc_id", F.lit(3)) == m)
        prefix = part if prefix is None else prefix.unionByName(part)
        expected = _rows(_bm25_over(spark, prefix, k=20))
        snap = spark.read.parquet(f"{results}/ingest=b{i}")
        assert _snap_rows(snap) == expected, f"batch {i} diverged"
        assert {r["batch_id"] for r in snap.collect()} == {i}

    # restart with no new data: nothing re-applied
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q2 = ingest.start(stream2, ckpt, state, step)
    q2.awaitTermination(600)
    assert ingest.read_progress(state) == progress

    # compaction: the full-index probe is identical before/after, and
    # the snapshot history survives (scope column collapsed)
    before = _rows(search_index_topk(spark, f"{state}/index", TERMS, k=20))
    n_hist = spark.read.parquet(results).count()
    compact_search_state(spark, state, results)
    after = _rows(search_index_topk(spark, f"{state}/index", TERMS, k=20))
    assert after == before
    assert spark.read.parquet(results).count() == n_hist


def test_crash_replay_is_idempotent(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    results = str(tmp_path / "results")
    step = search_step(state, results, TERMS)

    ingest.apply(b0, 0, state, step)
    ingest.apply(b1, 1, state, step)
    snap1 = _snap_rows(spark.read.parquet(f"{results}/ingest=b1"))
    progress1 = ingest.read_progress(state)
    n_posts = spark.read.parquet(f"{state}/index/postings").count()

    # crash-replay batch 1: all writes done, progress bump lost
    from kinesis_vcr_spark import statefs

    p = f"{state}/progress.json"
    saved = statefs.read_json_state(spark, p, {})
    saved["last_batch_id"] = 0
    saved["docs_indexed"] -= b1.count()
    saved["snapshots"] -= 1
    statefs.write_json_state(spark, p, saved)
    ingest.apply(b1, 1, state, step)

    assert spark.read.parquet(f"{state}/index/postings").count() == n_posts
    assert _snap_rows(spark.read.parquet(f"{results}/ingest=b1")) == snap1
    assert ingest.read_progress(state) == progress1

    # fully-committed replay (watermark hit): a plain no-op
    ingest.apply(b1, 1, state, step)
    assert ingest.read_progress(state) == progress1
