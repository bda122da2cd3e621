"""Skew-management operators: salted joins and aggregates for hot keys.

When to reach for each (the 100 TB decision tree):

1. **AQE skew-join first** (`spark.sql.adaptive.skewJoin.enabled`, on in
   `session.get_spark`): splits oversized shuffle partitions at runtime
   — handles most skew with zero code. Salting is for the cases AQE
   can't fix: a single join key so hot that ONE key exceeds executor
   memory, or skewed aggregation state.
2. **Salted join**: spread one hot key over ``salt_factor`` partitions
   by appending a salt to the big side's key and replicating the small
   side once per salt value. Costs a ``salt_factor``x blow-up of the
   small side — use only when the small side is broadcast-small but the
   big side's key distribution is pathological.
3. **Bucketed tables** (Spark's ``bucketBy``): pre-shuffle once at
   write time; every later equi-join/aggregation on the bucket key is
   exchange-free. The right call for dimension/fact tables joined
   repeatedly on the same key (operators/dedup_index.py's bucketed
   near-dup index is the in-repo case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys spread over
    ``salt_factor`` shuffle partitions.

    Row→salt assignment only affects load balance, never correctness,
    so a cheap per-row hash is used (xxhash64 over the key plus a
    uniform spreader). The small side is replicated once per salt value
    via ``explode`` — an equi-join on (key, salt) follows, which
    Catalyst hash-partitions as usual but now with ``salt_factor``-way
    spread of each hot key.
    """
    if salt_factor < 1:
        raise ValueError("salt_factor must be >= 1")
    if how not in ("inner", "left", "leftouter", "left_outer"):
        # right/full outer would emit each UNMATCHED small-side row once
        # per salt replica (salt_factor duplicate rows) — the salted
        # plan is only result-equivalent when unmatched small-side rows
        # are dropped (inner) or irrelevant (left) (ADVICE r02)
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}"
        )
    salt = F.pmod(
        F.xxhash64(F.col(on), F.monotonically_increasing_id()),
        F.lit(salt_factor),
    ).cast("int")
    big_salted = big.withColumn("__salt", salt)
    small_salted = small.withColumn(
        "__salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_factor)])),
    )
    return big_salted.join(small_salted, [on, "__salt"], how).drop("__salt")


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str] | None = None,
    count_alias: str | None = None,
    salt_factor: int = 8,
) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys: partial
    aggregate on (keys + salt), then final aggregate on keys.

    Spark's map-side combine already pre-reduces algebraic aggregates,
    but a single pathologically hot key still lands its entire partial
    state on one reducer; the salt splits that reducer ``salt_factor``
    ways. Supports the algebraic composites (count, sum) — which is
    also all the reference's own aggregation surface needs (A1-A6).

    ``sum_cols`` maps input column → output alias.
    """
    sum_cols = sum_cols or {}
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys],
                             F.monotonically_increasing_id()),
                  F.lit(salt_factor)).cast("int")
    partial_aggs = [F.count("*").alias("__cnt")] + [
        F.sum(c).alias(f"__sum_{c}") for c in sum_cols
    ]
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*partial_aggs)
    )
    final_aggs = []
    if count_alias:
        final_aggs.append(F.sum("__cnt").alias(count_alias))
    final_aggs += [
        F.sum(f"__sum_{c}").alias(alias) for c, alias in sum_cols.items()
    ]
    return partial.groupBy(*keys).agg(*final_aggs)
