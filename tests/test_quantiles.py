"""Exact distributed rank and NTILE: value-identical to the window
functions, with no single-partition sort."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def test_exact_global_rank_is_dense_and_ordered(spark):
    from kinesis_vcr_spark.operators.quantiles import exact_global_rank

    df = spark.range(0, 997).select(
        (F.col("id") * 7919 % 997).alias("v"), "id"
    )
    ranked, total = exact_global_rank(df, ["v", "id"])
    assert total == 997
    rows = ranked.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(1, 998))
    # rank order == (v, id) order
    assert [r["v"] for r in rows] == sorted(r["v"] for r in rows)


@pytest.mark.parametrize("n,k", [(2000, 10), (1003, 7), (5, 10), (13, 4)])
def test_exact_ntile_matches_window_ntile(spark, n, k):
    """Value-identical to NTILE(k) OVER (ORDER BY v, id) — including
    the ragged case (N % k != 0) and N < k."""
    from kinesis_vcr_spark.operators.quantiles import exact_ntile

    df = spark.range(0, n).select((F.col("id") * 37 % 1999).alias("v"), "id")
    # small_input_rows=0 forces the distributed path; the small path
    # IS the window function, so equivalence there is trivial
    got = exact_ntile(df, ["v", "id"], k, small_input_rows=0)
    want = df.withColumn("nt", F.ntile(k).over(Window.orderBy("v", "id")))
    diff = (
        got.join(want.select("id", "nt"), "id")
        .where(F.col("ntile") != F.col("nt"))
        .count()
    )
    assert diff == 0


def test_exact_ntile_plan_has_no_single_partition_sort(spark):
    """The whole point: no exchange to ONE partition anywhere in the
    plan (a global window would show Exchange SinglePartition)."""
    from kinesis_vcr_spark.operators.quantiles import exact_ntile

    df = spark.range(0, 100).select(F.col("id").alias("v"), "id")
    plan = exact_ntile(df, ["v", "id"], 10, small_input_rows=0)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_exact_global_rank_handles_nulls_and_specials(spark):
    """NULL sorts first (Spark asc default), NaN last — the block
    function must agree with the engine's sort order."""
    from kinesis_vcr_spark.operators.quantiles import exact_global_rank

    data = [(None, 1), (float("nan"), 2), (-5.0, 3), (0.0, 4), (3.5, 5),
            (float("inf"), 6), (float("-inf"), 7), (3.5, 8)]
    df = spark.createDataFrame(data, "v double, id long")
    ranked, total = exact_global_rank(df, ["v", "id"])
    assert total == 8
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    diff = (
        ranked.join(want.select("id", "rn"), "id")
        .where(F.col("rank") != F.col("rn"))
        .count()
    )
    assert diff == 0
