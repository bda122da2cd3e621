"""Corpus snapshot diffing — what changed between two generations.

Training datasets are rebuilt continuously; before generation N+1
replaces N, the pipeline owner needs the delta: how many documents
appeared, vanished, or changed content — and a 3% "changed" where 0%
was expected is how silent upstream re-crawls or encoding bugs get
caught. The same audit drives incremental processing: only `added` and
`changed` rows need re-embedding/re-scoring.

Shape: one full-outer join on the document key, with content equality
decided by an md5 over the null-safe concatenation of the content
columns (computed per side BEFORE the join, so the join carries a
16-byte digest instead of full documents). At 100 TB this is one
co-partitioned shuffle per side on the key — the minimum for exact
set reconciliation; if both snapshots are bucketed on the key
(Spark's ``bucketBy``) the exchanges vanish entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def content_digest(cols: list[str]) -> F.Column:
    """Null-safe, INJECTIVE md5 digest of the content columns.

    Each field is length-prefixed (``<len>:<value>``; NULL encodes as
    ``N:``) before concatenation, so no choice of separators inside
    the data can make distinct tuples collide — ('a\\x1f', 'b') and
    ('a', '\\x1fb') encode differently, and NULL ≠ '' ≠ any value.
    Raw web text DOES contain control bytes; a plain separator join
    would be ambiguous exactly there."""
    encoded = [
        F.coalesce(
            F.concat(
                F.length(F.col(c).cast("string")).cast("string"),
                F.lit(":"),
                F.col(c).cast("string"),
            ),
            F.lit("N:"),
        )
        for c in cols
    ]
    return F.md5(F.concat(*encoded).cast("binary"))


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    content_cols: list[str],
) -> DataFrame:
    """Per-document delta: ``(keys…, status)`` with status ∈
    {'added', 'removed', 'changed', 'unchanged'}."""
    o = old.select(
        *key_cols, content_digest(content_cols).alias("__old_digest")
    )
    n = new.select(
        *key_cols, content_digest(content_cols).alias("__new_digest")
    )
    joined = o.join(n, on=list(key_cols), how="full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("__old_digest").isNull(), F.lit("added"))
        .when(F.col("__new_digest").isNull(), F.lit("removed"))
        .when(
            F.col("__old_digest") == F.col("__new_digest"),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def diff_summary(diff: DataFrame) -> DataFrame:
    """``(status, n_docs)`` — the one-line generation gate."""
    return diff.groupBy("status").agg(F.count("*").alias("n_docs"))
