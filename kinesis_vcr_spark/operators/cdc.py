"""CDC apply — merge a change feed (upserts + deletes) onto a base
snapshot, latest-wins per key.

The batch half of every lakehouse MERGE: given yesterday's snapshot and
a day of change events, produce today's snapshot. Spark-first shape:

    union(base tagged seq=-inf, changes tagged by their order column)
      → one window per key, latest row wins
      → drop keys whose winner is a delete marker

ONE shuffle on the key; no driver state; ties inside the change feed
break deterministically (change beats base at equal order, then the
explicit tiebreak). At warehouse scale the base side is the big one —
the key-partitioned window shuffles it once, which is the floor for
any merge; bases pre-bucketed on the key (operators/skew.py::
write_bucketed) skip even that exchange.

Deletes are markers IN the feed (``op_col`` == delete value), not
anti-joins — so one pass handles insert, update, and delete without
branching the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

OP_UPSERT = "U"
OP_DELETE = "D"


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    order_col: str,
    op_col: str = "op",
    delete_value: str = OP_DELETE,
) -> DataFrame:
    """New snapshot: ``base`` columns only (op/order are feed-side).

    ``changes`` must carry ``base``'s columns plus ``op_col`` and
    ``order_col``; base rows rank below every change row (a change with
    ANY order value beats the snapshot), and among equal-order changes
    the delete wins (a delete+reinsert at the same instant must not
    resurrect nondeterministically — pick the conservative outcome).
    """
    for c in (op_col, order_col):
        if c not in changes.columns:
            raise ValueError(f"changes is missing required column {c!r}")
    if op_col in base.columns or order_col in base.columns:
        raise ValueError(
            f"base must not carry {op_col!r}/{order_col!r} (feed-side)"
        )
    out_cols = base.columns

    tagged_base = base.select(
        *out_cols,
        F.lit(None).cast(changes.schema[order_col].dataType).alias("__ord"),
        F.lit(OP_UPSERT).alias("__op"),
        F.lit(0).alias("__src"),
    )
    tagged_changes = changes.select(
        *out_cols,
        F.col(order_col).alias("__ord"),
        F.col(op_col).alias("__op"),
        F.lit(1).alias("__src"),
    )
    unioned = tagged_base.unionByName(tagged_changes)

    # change-beats-base comes from the EXPLICIT __src tag, not from
    # __ord nullity — a change row whose order value is NULL (feed bug
    # or late-arriving tombstone) still deterministically beats the
    # base row, sorts below every ordered change (desc_nulls_last),
    # and resolves delete-vs-upsert conservatively; it never silently
    # demotes to "base" with an arbitrary winner. The final md5 term
    # covers the last nondeterminism hole: two UPSERTS with equal key,
    # equal order value, and DIFFERENT payloads would otherwise pick a
    # partitioning-dependent winner — hashing the payload columns makes
    # the choice arbitrary-but-stable across runs and engines.
    payload_hash = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in out_cols
            ],
        )
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("__src").desc(),
        F.col("__ord").desc_nulls_last(),
        (F.col("__op") == delete_value).desc(),
        payload_hash.desc(),
    )
    ranked = unioned.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.where((F.col("__rn") == 1) & (F.col("__op") != delete_value))
        .select(*out_cols)
    )
