"""operators/novelty.py — cross-document n-gram novelty."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.novelty import (
    doc_ngram_novelty,
    ngram_first_seen,
    novelty_by_group,
    shingle_edges,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "srcA", "the quick brown fox jumps over the lazy dog"),
        (1, "srcA", "the quick brown fox sat still"),      # shares a prefix
        (2, "srcB", "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "srcB", "completely novel content nothing shared here"),
        (4, "srcB", "tiny"),                               # < n tokens
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _trigrams(text):
    t = text.split(" ")
    if len(t) <= 3:
        return {" ".join(t)}
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def test_shingle_edges_distinct_per_doc(corpus):
    edges = shingle_edges(corpus).collect()
    by_doc = {}
    for r in edges:
        by_doc.setdefault(r["doc_id"], []).append(r["shingle"])
    for doc_id, sh in by_doc.items():
        assert len(sh) == len(set(sh))
        text = [r["text"] for r in corpus.collect() if r["doc_id"] == doc_id][0]
        assert set(sh) == _trigrams(text)


def test_first_seen_is_min_doc_id(corpus):
    first = {
        r["shingle"]: r["first_seen"]
        for r in ngram_first_seen(shingle_edges(corpus)).collect()
    }
    assert first["the quick brown"] == 0
    assert first["completely novel content"] == 3
    assert first["tiny"] == 4


def test_doc_novelty_manual(corpus):
    nov = {r["doc_id"]: r for r in doc_ngram_novelty(corpus).collect()}
    # doc 0: all 7 trigrams are corpus-first
    assert nov[0]["novelty"] == pytest.approx(1.0)
    assert nov[0]["total_ngrams"] == 7
    # doc 2 duplicates doc 0 exactly → nothing new
    assert nov[2]["novelty"] == pytest.approx(0.0)
    assert nov[2]["novel_ngrams"] == 0
    # doc 1: "the quick brown"/"quick brown fox" seen in doc 0;
    # "brown fox sat", "fox sat still" new → 2/4
    assert nov[1]["total_ngrams"] == 4
    assert nov[1]["novel_ngrams"] == 2
    assert nov[1]["novelty"] == pytest.approx(0.5)
    assert nov[3]["novelty"] == pytest.approx(1.0)
    assert nov[4]["total_ngrams"] == 1 and nov[4]["novelty"] == pytest.approx(1.0)


def test_group_rollup_sums_integers(corpus):
    g = {r["source"]: r for r in novelty_by_group(corpus, "source").collect()}
    assert g["srcA"]["n_docs"] == 2
    assert g["srcA"]["novel_ngrams"] == 7 + 2
    assert g["srcA"]["total_ngrams"] == 7 + 4
    assert g["srcB"]["novel_ngrams"] == 0 + 4 + 1
    assert g["srcB"]["total_ngrams"] == 7 + 4 + 1
    assert g["srcB"]["novelty"] == pytest.approx(round(5 / 12, 6))


def test_partition_invariance(corpus):
    a = sorted(
        (r["doc_id"], r["novel_ngrams"], r["total_ngrams"], r["novelty"])
        for r in doc_ngram_novelty(corpus).collect()
    )
    b = sorted(
        (r["doc_id"], r["novel_ngrams"], r["total_ngrams"], r["novelty"])
        for r in doc_ngram_novelty(corpus.repartition(5)).collect()
    )
    assert a == b


def test_registry_row_matches_duckdb(spark, sf_dir):
    duckdb = pytest.importorskip("duckdb")
    from kinesis_vcr_spark.queries.corpusprep import (
        NOVELTY_SQL,
        corpus_novelty_by_source,
    )

    got = [
        (r["source"], r["n_docs"], r["novel_ngrams"], r["total_ngrams"], r["novelty"])
        for r in corpus_novelty_by_source(spark, sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = [
        (s, int(nd), int(nn), int(tn), float(nv))
        for s, nd, nn, tn, nv in con.execute(NOVELTY_SQL).fetchall()
    ]
    assert got == want
    # every corpus-first occurrence is claimed exactly once globally:
    # Σ novel over sources = # distinct shingles in the corpus
    n_shingles = con.execute(
        """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT list_distinct(list_transform(
                 range(1, greatest(len(t) - 2, 1) + 1),
                 i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
               FROM toks)
        SELECT count(DISTINCT g) FROM (SELECT unnest(s) AS g FROM sh)
        """
    ).fetchone()[0]
    assert sum(r[2] for r in got) == n_shingles
