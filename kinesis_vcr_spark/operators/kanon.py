"""k-anonymity profiling.

Privacy governance for training corpora: before a table with
quasi-identifiers (QI — attributes that are individually harmless but
jointly re-identifying: location × segment × balance-bracket) ships into
a training set, the pipeline needs a MEASURE of re-identification risk
— how many rows sit in QI-groups smaller than k — and GENERALIZATION
(coarsen a QI column until groups merge) to repair it.

Scale shape: everything reduces to one hash aggregation on the QI key
(map-side combined, shuffle = |distinct QI groups|) followed by a tiny
driver-free profile agg; no window-over-raw-rows anywhere (a window
would sort every row — same shuffle, extra sort).

No reference counterpart (scopely/kinesis-vcr has no analytics
surface); additive engine layer beside operators/validate.py (the
declarative expectations gate) and functions/text.redact_pii.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_KS = (2, 5, 10, 25)


def generalize_numeric(col: str | Column, width: float) -> Column:
    """Coarsen a numeric QI to its bucket floor — the generalization
    ladder step (acctbal → $1000 brackets). Exact long output so the
    bucket is hash-stable across engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c / F.lit(width)).cast("long")


def group_sizes(df: DataFrame, qi_cols: Sequence[str | Column]) -> DataFrame:
    """QI-group sizes: one hash agg, map-side combined. Null QI values
    form their own group (nulls group together in both Spark and SQL
    GROUP BY — the privacy-conservative reading: unknown is a value)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in qi_cols]
    return df.groupBy(*cols).agg(F.count("*").alias("group_size"))


def k_anonymity_profile(
    df: DataFrame,
    qi_cols: Sequence[str | Column],
    ks: Sequence[int] = DEFAULT_KS,
) -> DataFrame:
    """Risk profile: one row per k with how much of the table fails it.

    Columns: ``k, n_rows, n_groups, min_group_size, groups_below,
    rows_below, pct_rows_below`` — ``rows_below`` is the number of rows
    whose QI-group has fewer than k members (the rows suppression would
    drop); the dataset is k-anonymous iff ``rows_below == 0``.

    Two-stage reduction: QI hash-agg → single-row global agg → explode
    the k-ladder from a literal array (no second scan, no join).
    """
    sizes = group_sizes(df, qi_cols)
    ladder = F.array(*[F.lit(int(k)) for k in ks])
    conds_groups = F.array(
        *[
            F.sum(F.when(F.col("group_size") < int(k), 1).otherwise(0))
            for k in ks
        ]
    )
    conds_rows = F.array(
        *[
            F.sum(
                F.when(F.col("group_size") < int(k), F.col("group_size")).otherwise(
                    F.lit(0)
                )
            )
            for k in ks
        ]
    )
    g = sizes.agg(
        F.sum("group_size").alias("n_rows"),
        F.count("*").alias("n_groups"),
        F.min("group_size").alias("min_group_size"),
        conds_groups.alias("_gb"),
        conds_rows.alias("_rb"),
    )
    exploded = g.select(
        "n_rows",
        "n_groups",
        "min_group_size",
        F.posexplode(ladder).alias("_pos", "k"),
        "_gb",
        "_rb",
    )
    return exploded.select(
        F.col("k").cast("long").alias("k"),
        "n_rows",
        "n_groups",
        "min_group_size",
        F.element_at("_gb", F.col("_pos") + 1).cast("long").alias("groups_below"),
        F.element_at("_rb", F.col("_pos") + 1).cast("long").alias("rows_below"),
        F.round(
            F.element_at("_rb", F.col("_pos") + 1).cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("pct_rows_below"),
    )


__all__ = [
    "DEFAULT_KS",
    "generalize_numeric",
    "group_sizes",
    "k_anonymity_profile",
]
