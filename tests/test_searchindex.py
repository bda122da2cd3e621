"""Persisted inverted BM25 index (operators/searchindex.py): probe ==
batch bm25_search over the union, bucket partition pruning, replay
idempotence, exclude-scope probes, empty appends, compaction parity."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.searchindex import (
    append_search_index,
    build_search_index,
    compact_search_index,
    load_search_meta,
    search_index_topk,
)
from kinesis_vcr_spark.queries.tfidf import BM25_TERMS, bm25_search
from kinesis_vcr_spark.tables import load_table

TERMS = list(BM25_TERMS)


def _rows(df):
    return [
        (r["doc_id"], r["bm25"], r["n_terms_hit"]) for r in df.collect()
    ]


def _bm25_over(spark, docs, k=20):
    """bm25_search's answer restricted to an arbitrary corpus frame —
    recomputed from first principles with the same expression."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dl = docs.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    stats = docs.agg(
        F.count("*").alias("n_total"),
        F.sum(F.size(F.split("text", " "))).alias("sum_dl"),
    )
    qtoks = toks.where(F.col("term").isin(*TERMS))
    tf = qtoks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = qtoks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_docs")
    )
    avgdl = F.col("sum_dl") / F.col("n_total")
    idf = F.log(
        1
        + (F.col("n_total") - F.col("df_docs") + 0.5)
        / (F.col("df_docs") + 0.5)
    )
    part = idf * (
        F.col("tf")
        * (1.2 + 1)
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / avgdl))
    )
    per_doc = (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(part), 6).alias("bm25"),
            F.count("*").alias("n_terms_hit"),
        )
    )
    return per_doc.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(k)


def test_build_append_probe_equals_union_batch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "idx")
    build_search_index(old, idx)
    append_search_index(new, idx, ingest_label="batch")
    got = _rows(search_index_topk(spark, idx, TERMS, k=20))
    expected = _rows(_bm25_over(spark, docs, k=20))
    assert expected, "fixture produced no BM25 hits"
    assert got == expected


def test_probe_matches_bm25_search_query(spark, sf_dir, tmp_path):
    """Single-scope index over the whole table == the registry
    bm25_search query itself (the engine's own parity pin)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_search_index(docs, idx)
    got = _rows(search_index_topk(spark, idx, TERMS, k=20))
    expected = _rows(bm25_search(spark, sf_dir))
    assert got == expected


def test_probe_prunes_term_buckets(spark, sf_dir, tmp_path):
    """The postings scan carries PartitionFilters on tb and targets at
    most len(terms) of the artifact's buckets — at corpus scale this IS
    the probe's cost model, so pin it."""
    import os

    from kinesis_vcr_spark.operators.searchindex import _meta_and_buckets

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_search_index(docs, idx, n_buckets=16)
    probe = search_index_topk(spark, idx, TERMS, k=20)
    buf = io.StringIO()
    with redirect_stdout(buf):
        probe.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "tb" in plan
    # the artifact holds more buckets than the probe targets — pruning
    # has something real to skip (the 31-word fixture vocabulary fills
    # most of 16 buckets)
    on_disk = {
        d
        for d in os.listdir(f"{idx}/postings/ingest=_base")
        if d.startswith("tb=")
    }
    n_buckets, hit = _meta_and_buckets(spark, idx, TERMS)
    assert n_buckets == 16
    assert len(hit) <= len(TERMS)
    assert len(on_disk) > len(hit)


def test_replayed_append_is_idempotent(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "idx")
    build_search_index(old, idx)
    append_search_index(new, idx, ingest_label="batch")
    before = _rows(search_index_topk(spark, idx, TERMS, k=20))
    n_posts = spark.read.parquet(f"{idx}/postings").count()
    append_search_index(new, idx, ingest_label="batch")  # replay
    assert spark.read.parquet(f"{idx}/postings").count() == n_posts
    assert _rows(search_index_topk(spark, idx, TERMS, k=20)) == before


def test_exclude_ingest_probes_without_scope(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "idx")
    build_search_index(old, idx)
    append_search_index(new, idx, ingest_label="batch")
    got = _rows(
        search_index_topk(spark, idx, TERMS, k=20, exclude_ingest="batch")
    )
    expected = _rows(_bm25_over(spark, old, k=20))
    assert got == expected


def test_empty_append_changes_nothing(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_search_index(docs, idx)
    before = _rows(search_index_topk(spark, idx, TERMS, k=20))
    append_search_index(
        docs.where(F.lit(False)), idx, ingest_label="empty"
    )
    assert _rows(search_index_topk(spark, idx, TERMS, k=20)) == before


def test_compaction_preserves_probe(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "idx")
    build_search_index(old, idx)
    append_search_index(new, idx, ingest_label="batch")
    before = _rows(search_index_topk(spark, idx, TERMS, k=20))
    compact_search_index(spark, idx)
    scopes = {
        r["ingest"]
        for r in spark.read.parquet(f"{idx}/postings")
        .select("ingest").distinct().collect()
    }
    assert scopes == {"_compacted"}
    assert _rows(search_index_topk(spark, idx, TERMS, k=20)) == before


def test_fresh_build_replaces_stale_scopes(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_search_index(docs, idx)
    append_search_index(docs.limit(0), idx, ingest_label="stale")
    build_search_index(
        docs.where(F.col("doc_id") % 4 != 0), idx
    )
    scopes = {
        r["ingest"]
        for r in spark.read.parquet(f"{idx}/postings")
        .select("ingest").distinct().collect()
    }
    assert "stale" not in scopes


def _py_phrase_count(text, phrase):
    toks = text.split(" ")
    m = len(phrase)
    return sum(
        1
        for s in range(len(toks) - m + 1)
        if toks[s : s + m] == list(phrase)
    )


def test_phrase_occurrences_matches_python(spark):
    from kinesis_vcr_spark.operators.searchindex import phrase_occurrences

    rows = [
        (1, "a b a b a"),        # overlapping "a b a": starts 0 and 2
        (2, "a b c a b a x"),
        (3, "b a a b"),
        (4, "a"),                # shorter than the phrase
        (5, "x y z"),            # no hits
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for phrase in (["a", "b"], ["a", "b", "a"], ["a"]):
        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in phrase_occurrences(docs, phrase).collect()
        }
        expected = {
            i: _py_phrase_count(t, phrase)
            for i, t in rows
            if _py_phrase_count(t, phrase) > 0
        }
        assert got == expected, f"phrase {phrase}"


def test_phrase_probe_equals_batch_over_union(spark, sf_dir, tmp_path):
    from kinesis_vcr_spark.operators.searchindex import (
        append_position_index,
        phrase_occurrences,
        phrase_probe_index,
    )

    phrase = ["hash", "join"]
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    idx = str(tmp_path / "idx")
    build_search_index(old, idx)
    append_position_index(old, idx, ingest_label="_base")
    append_position_index(new, idx, ingest_label="batch")
    got = {
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_probe_index(spark, idx, phrase).collect()
    }
    expected = {
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_occurrences(docs, phrase).collect()
    }
    assert expected, "fixture contains no phrase hits"
    assert got == expected

    # exclude the batch scope: counts over the old corpus only
    got_old = {
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_probe_index(
            spark, idx, phrase, exclude_ingest="batch"
        ).collect()
    }
    expected_old = {
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_occurrences(old, phrase).collect()
    }
    assert got_old == expected_old

    # compaction preserves the phrase probe (positions compacted too)
    compact_search_index(spark, idx)
    after = {
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_probe_index(spark, idx, phrase).collect()
    }
    assert after == got

    # the same docs again under a second ingest label: each position
    # must still vote once, so the occurrence counts do not change
    append_position_index(docs, idx, ingest_label="batch")
    twice = {
        (r["doc_id"], r["n_occurrences"])
        for r in phrase_probe_index(spark, idx, phrase).collect()
    }
    assert twice == got


def test_probe_requires_terms(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_search_index(docs.limit(8), idx)
    with pytest.raises(ValueError):
        search_index_topk(spark, idx, [], k=5)


def test_meta_round_trip(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    build_search_index(docs.limit(8), idx, n_buckets=7)
    assert load_search_meta(spark, idx) == 7
