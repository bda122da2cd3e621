"""operators/kanon.py — k-anonymity profiling and generalization."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.kanon import (
    generalize_numeric,
    group_sizes,
    k_anonymity_profile,
)


@pytest.fixture(scope="module")
def people(spark):
    # (zip, age_bracket, disease) — classic QI + sensitive toy table
    rows = [
        ("10001", 20, "flu"),
        ("10001", 20, "flu"),
        ("10001", 20, "cold"),
        ("10001", 30, "flu"),      # singleton group
        ("10002", 20, "cold"),
        ("10002", 20, "cold"),     # size-2 group, diversity 1
        ("10003", 40, "flu"),
        ("10003", 40, "cold"),
        ("10003", 40, "measles"),
        ("10003", 40, "measles"),  # size-4 group, diversity 3
    ]
    return spark.createDataFrame(rows, "zip string, age int, disease string")


QI = ["zip", "age"]
# groups: (10001,20)=3, (10001,30)=1, (10002,20)=2, (10003,40)=4


def test_group_sizes(people):
    got = {(r["zip"], r["age"]): r["group_size"] for r in group_sizes(people, QI).collect()}
    assert got == {("10001", 20): 3, ("10001", 30): 1, ("10002", 20): 2, ("10003", 40): 4}


def test_k_anonymity_profile_manual(people):
    prof = {r["k"]: r for r in k_anonymity_profile(people, QI, ks=(2, 3, 5)).collect()}
    assert set(prof) == {2, 3, 5}
    for r in prof.values():
        assert r["n_rows"] == 10
        assert r["n_groups"] == 4
        assert r["min_group_size"] == 1
    assert prof[2]["rows_below"] == 1 and prof[2]["groups_below"] == 1
    assert prof[3]["rows_below"] == 3 and prof[3]["groups_below"] == 2
    assert prof[5]["rows_below"] == 10 and prof[5]["groups_below"] == 4
    assert prof[3]["pct_rows_below"] == pytest.approx(0.3)


def test_generalization_merges_groups(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([10.0, 990.0, 1010.0, -5.0])],
        "id int, bal double",
    )
    got = [r["b"] for r in df.select(generalize_numeric("bal", 1000.0).alias("b"))
           .orderBy("id").collect()]
    assert got == [0, 0, 1, -1]  # floor semantics: -5 → bracket -1


def test_null_qi_forms_its_own_group(spark):
    df = spark.createDataFrame(
        [("a", 1), (None, 1), (None, 1)], "zip string, age int"
    )
    got = {(r["zip"], r["age"]): r["group_size"] for r in group_sizes(df, QI).collect()}
    assert got[(None, 1)] == 2
    prof = {r["k"]: r for r in k_anonymity_profile(df, QI, ks=(2,)).collect()}
    assert prof[2]["rows_below"] == 1  # only the ("a",1) singleton


def test_profile_is_one_shuffle(people):
    plan = k_anonymity_profile(people, QI)._jdf.queryExecution().executedPlan().toString()
    # QI hash-agg exchange + the single-row global agg; no join, no window
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_registry_row_green(spark, sf_dir):
    from kinesis_vcr_spark.queries.quantileq import customer_k_anonymity

    rows = customer_k_anonymity(spark, sf_dir).collect()
    assert [r["k"] for r in rows] == [2, 5, 10, 25]
    n_rows = rows[0]["n_rows"]
    assert all(r["n_rows"] == n_rows for r in rows)
    # ladder is monotone
    rb = [r["rows_below"] for r in rows]
    assert rb == sorted(rb)
