"""Persisted gram-count index + streaming exact-span dedup
(operators/spandedup.py index half, streaming/spanstream.py): probe ==
batch operator, per-batch prefix parity, crash-replay idempotence,
compaction parity."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.spandedup import (
    append_gram_index,
    duplicated_spans,
    span_probe_index,
)
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.spanstream import (
    compact_span_state,
    span_step,
)
from kinesis_vcr_spark.tables import load_table

L = 40


def _spans(df):
    return {
        (r["doc_id"], r["span_start"], r["span_end"]) for r in df.collect()
    }


def test_index_probe_equals_batch_operator(spark, sf_dir, tmp_path):
    """One scope holding the whole corpus, probed with the whole
    corpus: identical to duplicated_spans over that corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "index")
    append_gram_index(docs, idx, min_len=L)
    got = _spans(span_probe_index(docs, idx, min_len=L))
    expected = _spans(duplicated_spans(docs, min_len=L))
    assert expected, "fixture produced no duplicated spans"
    assert got == expected


def test_streaming_prefix_parity_and_compaction(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.parquet(
            f"{src}/f{i}.parquet"
        )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    spans_path = str(tmp_path / "spans")
    step = span_step(state, spans_path, min_len=L)

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

    # each batch's emission == duplicated_spans over the prefix union,
    # restricted to the batch's docs (membership recovered from the
    # indexed scopes via the emitted doc set per batch is not enough —
    # spanless docs leave no trace — so recompute from the source split
    # by trigger: recover each batch's docs from the scope's doc ids
    # union the known pmod split that built the files)
    total = 0
    prefix = None
    batch_sets = []
    # trigger order == file processing order; recover it by checking
    # which pmod class each scope's emitted doc ids belong to
    for i in range(3):
        emitted = spark.read.parquet(f"{spans_path}/ingest=b{i}")
        mods = {
            r["m"]
            for r in emitted.select(
                F.pmod("doc_id", F.lit(3)).alias("m")
            ).distinct().collect()
        }
        assert len(mods) == 1, f"batch {i} mixed pmod classes: {mods}"
        batch_sets.append(next(iter(mods)))
    assert sorted(batch_sets) == [0, 1, 2]
    for i, m in enumerate(batch_sets):
        part = docs.where(F.pmod("doc_id", F.lit(3)) == m)
        prefix = part if prefix is None else prefix.unionByName(part)
        expected = _spans(
            duplicated_spans(prefix, min_len=L).join(
                part.select("doc_id"), "doc_id", "left_semi"
            )
        )
        got = _spans(spark.read.parquet(f"{spans_path}/ingest=b{i}"))
        assert got == expected, f"batch {i} diverged from prefix spans"
        total += len(expected)
    assert progress["spans_emitted"] == total

    # restart with no new data: nothing re-emitted
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q2 = ingest.start(stream2, ckpt, state, step)
    q2.awaitTermination(600)
    assert ingest.read_progress(state)["spans_emitted"] == total

    # compaction: a full-corpus probe is identical before/after
    before = _spans(span_probe_index(docs, f"{state}/index", min_len=L))
    compact_span_state(spark, state, spans_path)
    after = _spans(span_probe_index(docs, f"{state}/index", min_len=L))
    assert after == before
    assert spark.read.parquet(spans_path).count() == total


def test_crash_replay_is_idempotent(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.where(F.col("doc_id") % 2 == 0)
    b1 = docs.where(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    spans_path = str(tmp_path / "spans")
    step = span_step(state, spans_path, min_len=L)

    ingest.apply(b0, 0, state, step)
    ingest.apply(b1, 1, state, step)
    spans1 = _spans(spark.read.parquet(f"{spans_path}/ingest=b1"))
    progress1 = ingest.read_progress(state)
    idx_rows = spark.read.parquet(f"{state}/index/grams").count()

    # crash-replay batch 1: progress bump lost, all writes done
    from kinesis_vcr_spark import statefs

    p = f"{state}/progress.json"
    saved = statefs.read_json_state(spark, p, {})
    saved["last_batch_id"] = 0
    saved["spans_emitted"] -= len(spans1)
    saved["docs_indexed"] -= b1.count()
    statefs.write_json_state(spark, p, saved)
    ingest.apply(b1, 1, state, step)

    assert spark.read.parquet(f"{state}/index/grams").count() == idx_rows
    assert _spans(spark.read.parquet(f"{spans_path}/ingest=b1")) == spans1
    assert ingest.read_progress(state) == progress1


def test_semantic_gram_compaction_shrinks_rows_probe_identical(
    spark, sf_dir, tmp_path
):
    """Cross-scope duplicate grams (count 1 in each of two scopes)
    collapse to one saturated row; every probe answer — including one
    that needs the CROSS-scope sum — survives, and later appends still
    saturate correctly against the compacted row."""
    from kinesis_vcr_spark.operators.spandedup import compact_gram_index

    dup = "x" * L  # appears once per scope: only the cross-scope sum
    docs0 = spark.createDataFrame(
        [(1, dup + "alpha tail " + "a" * L)], "doc_id long, text string"
    )
    docs1 = spark.createDataFrame(
        [(2, dup + "beta tail " + "b" * L)], "doc_id long, text string"
    )
    idx = str(tmp_path / "index")
    append_gram_index(docs0, idx, min_len=L, ingest_label="b0")
    append_gram_index(docs1, idx, min_len=L, ingest_label="b1")
    probe_docs = docs0.unionByName(docs1)
    before = _spans(span_probe_index(probe_docs, idx, min_len=L))
    assert any(r[0] == 1 for r in before) and any(r[0] == 2 for r in before)
    rows_before = spark.read.parquet(f"{idx}/grams").count()

    compact_gram_index(spark, idx)
    import os

    scopes = [
        d for d in os.listdir(f"{idx}/grams") if d.startswith("ingest=")
    ]
    assert scopes == ["ingest=_compacted"]
    rows_after = spark.read.parquet(f"{idx}/grams").count()
    assert rows_after < rows_before  # the shared gram rows collapsed
    assert _spans(span_probe_index(probe_docs, idx, min_len=L)) == before

    # a later append joins the compacted scope in the same sum
    docs2 = spark.createDataFrame(
        [(3, "gamma " + "c" * L)], "doc_id long, text string"
    )
    append_gram_index(docs2, idx, min_len=L, ingest_label="b2")
    all_docs = probe_docs.unionByName(docs2)
    got = _spans(span_probe_index(all_docs, idx, min_len=L))
    expected = _spans(duplicated_spans(all_docs, min_len=L))
    assert got == expected


def test_string_keyed_legacy_index_fails_loudly(spark, tmp_path):
    """ADVICE r09: a pre-digest (string-keyed) gram index must raise a
    migration error on probe/compact open — a silent binary-vs-string
    join would return zero spans instead of failing."""
    import pytest

    from kinesis_vcr_spark.operators.spandedup import compact_gram_index

    idx = str(tmp_path / "legacy")
    spark.createDataFrame(
        [("x" * L, 2)], "gram string, n int"
    ).write.parquet(f"{idx}/grams/ingest=_base")
    docs = spark.createDataFrame(
        [(1, "y" * (L + 5))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="md5 digest"):
        span_probe_index(docs, idx, min_len=L)
    with pytest.raises(ValueError, match="md5 digest"):
        compact_gram_index(spark, idx)


def test_probe_cache_footprint_stays_bounded(spark, sf_dir, tmp_path):
    """ADVICE r09: repeated probes in one session must not accumulate
    persisted dup/batch-gram relations — results stay correct with an
    EMPTY tracked-cache footprint: the batch operator tags duplicated
    positions with one window count over a single position exchange
    (r15), and the probe persists nothing either."""
    from kinesis_vcr_spark import cacheutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "index")
    append_gram_index(docs, idx, min_len=L)
    expected = _spans(duplicated_spans(docs, min_len=L))
    assert "spandedup" not in cacheutil._HELD
    for _ in range(3):
        assert _spans(span_probe_index(docs, idx, min_len=L)) == expected
        # probes persist nothing either
        assert "spandedup" not in cacheutil._HELD
