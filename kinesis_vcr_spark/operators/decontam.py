"""Benchmark decontamination — flag training documents that overlap an
evaluation set by shared word n-grams.

The standard LLM-training hygiene step (GPT-3 §C / PaLM-style 8-gram
decontamination): any training document sharing ≥ ``min_hits`` word
n-grams with any benchmark document is contaminated and should be
dropped (or have the overlapping spans excised) before training.

Scale posture — the asymmetry IS the design:

- The benchmark side is small (eval sets are KBs–MBs), so its distinct
  n-gram set is **broadcast**; the 100 TB corpus is never shuffled.
- The corpus side is one scan → explode(n-grams) → broadcast LEFT
  SEMI-shaped hash lookup → groupBy(doc) count with map-side partial
  aggregation. One shuffle, keyed by doc id, carrying two ints per
  (doc, gram).
- All Catalyst higher-order functions — no Python in the path.

Reference parity: engine-added training-data layer (SURVEY.md §2.5a);
the reference has no analogous operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup import tokens, word_shingles_from_tokens


def benchmark_ngrams(bench: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct word n-grams of the benchmark corpus — one column
    ``gram``. Small by construction; callers broadcast it."""
    toks = bench.select(tokens(F.col(text_col)).alias("__toks"))
    return (
        toks.select(F.explode(word_shingles_from_tokens(F.col("__toks"), n)).alias("gram"))
        .distinct()
    )


def ngram_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Per-document contamination report against a benchmark set.

    Returns ``(id_col, n_grams, n_hits, hit_frac, contaminated)`` —
    total distinct n-grams in the doc, how many also occur anywhere in
    the benchmark, their ratio, and the ≥ ``min_hits`` flag. Callers
    drop (or audit) the flagged docs.
    """
    grams = benchmark_ngrams(bench, text_col, n).withColumn("__hit", F.lit(1))
    doc_grams = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(
            id_col,
            F.explode(word_shingles_from_tokens(F.col("__toks"), n)).alias("gram"),
        )
    )
    hits = doc_grams.join(F.broadcast(grams), on="gram", how="left")
    return (
        hits.groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hits"),
        )
        .withColumn(
            "hit_frac",
            F.round(F.col("n_hits").cast("double") / F.col("n_grams"), 6),
        )
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )


def fuzzy_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """FUZZY decontamination (E107, r12): flag training documents that
    are NEAR-duplicates of any benchmark document — the Llama-style
    complement of :func:`ngram_contamination`, which only catches
    verbatim n-gram overlap and misses lightly-edited eval copies
    (reworded benchmark answers, whitespace/punctuation-mangled
    pastes). Candidates come from the bipartite MinHash-LSH join
    (operators/dedup.py:near_dup_pairs_minhash_bipartite), verified by
    exact Jaccard, then aggregated per training doc.

    Returns ``(id_col, n_hits, max_jaccard)`` for contaminated docs
    only. Scale: the benchmark side is eval-set-sized, so its banded
    table broadcasts under AQE and the corpus is never shuffled for
    the candidate join; the per-doc aggregate is map-side combinable.
    """
    from kinesis_vcr_spark.operators.dedup import (  # noqa: PLC0415
        near_dup_pairs_minhash_bipartite,
    )

    if id_col not in bench.columns:
        # withColumnRenamed silently no-ops on a missing column and
        # the failure would surface as an unresolved-column error deep
        # inside the banding plan — fail at the contract boundary
        raise ValueError(
            f"bench must carry the same id column {id_col!r} "
            f"(has {bench.columns})"
        )
    pairs = near_dup_pairs_minhash_bipartite(
        docs,
        bench.select(F.col("*")).withColumnRenamed(id_col, "__bench_id"),
        id_col,
        "__bench_id",
        text_col=text_col,
        shingle_size=shingle_size,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
    )
    return (
        pairs.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Return ``docs`` minus fuzzy-contaminated rows — the production
    keep-verb (r13, VERDICT r12 item 4): the
    :func:`fuzzy_contamination` report names the docs to drop,
    and an ANTI-join on the flagged ids preserves the full input
    schema. Scale shape: the report's flagged set is
    contamination-sized (≪ corpus), so AQE broadcasts the anti-join
    side and the corpus is scanned once without a shuffle."""
    flagged = fuzzy_contamination(
        docs, bench, id_col, text_col,
        shingle_size=shingle_size, threshold=threshold,
        num_hashes=num_hashes, bands=bands,
    ).select(id_col)
    return docs.join(flagged, on=id_col, how="left_anti")
