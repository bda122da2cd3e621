"""Cross-document n-gram novelty scoring.

Curation signal for training corpora: a document whose word n-grams
have mostly been seen in EARLIER documents is derivative — boilerplate,
mirror content, template spam — while a document introducing n-grams
first is adding information. Per doc, over its DISTINCT word n-grams:

    novelty = |{g : first_seen(g) = doc_id}| / |distinct n-grams|

with ``first_seen(g) = min(doc_id over docs containing g)`` — the
"fraction of this doc the corpus had never seen before it arrived"
(ordering by doc_id = ingest order; any monotone ingest key works).
This is the cross-doc complement of operators/repetition.py
(within-doc repetition) and operators/linededup.py (exact duplicate
LINES; novelty measures overlap that line dedup can't see because the
n-grams straddle line boundaries and partial edits).

Scale shape: one explode of distinct per-doc shingles (the same
word-shingle machinery as the near-dup family), a groupBy(shingle) →
min(doc_id) reduction (map-side combined; shuffle keyed by shingle —
the linededup-proven shape), and a join of first-seen back to the
exploded edges on the same shingle key. The exploded edge set feeds
both the reduction and the join, so it is persisted for the query's
lifetime (the multiplicative-recompute discipline: 2 consumers).
Everything after is integer aggregation — hash-exact on any engine.

No reference counterpart (scopely/kinesis-vcr has no analytics
surface); additive engine layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold
from kinesis_vcr_spark.operators.dedup import tokens, word_shingles_from_tokens


def shingle_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry, shingle) — one row per DISTINCT word n-gram per doc.

    ``carry`` columns ride the explode so downstream grouped outputs
    (per-source rollups) don't need a second scan of the corpus.
    """
    toks = docs.select(
        id_col, *carry, tokens(text_col).alias("_toks")
    )
    return toks.select(
        id_col,
        *carry,
        F.explode(word_shingles_from_tokens(F.col("_toks"), n)).alias("shingle"),
    )


def ngram_first_seen(edges: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(shingle, first_seen) — the corpus-wide first containing doc."""
    return edges.groupBy("shingle").agg(F.min(id_col).alias("first_seen"))


def doc_ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc novelty: (id, *carry, total_ngrams, novel_ngrams,
    novelty). ``novelty`` is an exact-integer ratio in double —
    bit-deterministic under any partitioning."""
    edges = hold(
        "doc_ngram_novelty", shingle_edges(docs, id_col, text_col, n, carry)
    )
    first = ngram_first_seen(edges, id_col)
    return (
        edges.join(first, "shingle")
        .groupBy(id_col, *carry)
        .agg(
            F.count("*").alias("total_ngrams"),
            F.sum(
                F.when(F.col("first_seen") == F.col(id_col), 1).otherwise(0)
            ).alias("novel_ngrams"),
        )
        .select(
            id_col,
            *carry,
            "total_ngrams",
            "novel_ngrams",
            F.round(
                F.col("novel_ngrams").cast("double")
                / F.col("total_ngrams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


def novelty_by_group(
    docs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Group-level rollup (per source / per lang): exact integer sums of
    the per-doc counters, so the group ratio is hash-deterministic.

    ``novelty`` here = Σ novel / Σ total over the group's docs — the
    group's share of corpus-first n-gram occurrences, a direct
    boilerplate detector (template-heavy sources score near the
    duplicate floor, original sources near 1 early in the id order).
    """
    per_doc = doc_ngram_novelty(docs, id_col, text_col, n, carry=(group_col,))
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("novel_ngrams").alias("novel_ngrams"),
            F.sum("total_ngrams").alias("total_ngrams"),
        )
        .select(
            group_col,
            "n_docs",
            "novel_ngrams",
            "total_ngrams",
            F.round(
                F.col("novel_ngrams").cast("double")
                / F.col("total_ngrams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


__all__ = [
    "doc_ngram_novelty",
    "ngram_first_seen",
    "novelty_by_group",
    "shingle_edges",
]
