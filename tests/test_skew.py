"""Skew operators: salted join & aggregate correctness."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.skew import salted_aggregate, salted_join


def _skewed_df(spark, n=1000):
    # 90% of rows share one hot key
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        F.col("id").alias("v"),
    )


def test_salted_join_matches_plain_join(spark):
    big = _skewed_df(spark)
    small = spark.createDataFrame(
        [Row(k="HOT", label="hot"), Row(k="k9", label="nine")]
    )
    plain = big.join(small, "k").select("k", "v", "label").collect()
    salted = salted_join(big, small, "k", salt_factor=4).select(
        "k", "v", "label"
    ).collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))
    assert len(plain) == 901  # 900 HOT + k9


def test_salted_aggregate_matches_plain(spark):
    df = _skewed_df(spark)
    plain = {
        (r["k"]): (r["n"], r["total"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["total"])
        for r in salted_aggregate(
            df, ["k"], sum_cols={"v": "total"}, count_alias="n",
            salt_factor=4,
        ).collect()
    }
    assert salted == plain
