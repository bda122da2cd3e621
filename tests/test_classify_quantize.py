"""Tests for the linear text classifier (operators/classify.py) and
int8 embedding quantization (operators/quantize.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.classify import hash_weight_milli, score_documents
from kinesis_vcr_spark.operators.quantize import (
    LEVELS,
    embedding_ranges,
    quantize_elements,
)

# ---------------------------------------------------------------------------
# classifier
# ---------------------------------------------------------------------------


def test_score_with_explicit_weights(spark):
    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "unknown words only")], ["doc_id", "text"]
    )
    weights = spark.createDataFrame(
        [("good", 500), ("bad", -2000)], ["token", "w_milli"]
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in score_documents(docs, weights=weights).collect()
    }
    # doc 1: 500 + 500 - 2000 = -1000 milli -> sigmoid(-1.0)
    assert rows[1]["logit_milli"] == -1000
    assert rows[1]["score"] == round(1 / (1 + math.exp(1.0)), 6)
    # unknown tokens contribute zero -> sigmoid(0) = 0.5
    assert rows[2]["logit_milli"] == 0 and rows[2]["score"] == 0.5


def test_bias_shifts_logit(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    weights = spark.createDataFrame([("x", 100)], ["token", "w_milli"])
    r = score_documents(docs, weights=weights, bias_milli=-600).collect()[0]
    assert r["logit_milli"] == -500


def test_hash_weights_deterministic_and_bounded(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} shared") for i in range(50)], ["doc_id", "text"]
    )
    a = score_documents(docs).orderBy("doc_id").collect()
    b = score_documents(docs).orderBy("doc_id").collect()
    assert [r["logit_milli"] for r in a] == [r["logit_milli"] for r in b]
    w = docs.select(
        F.explode(F.split("text", " ")).alias("t")
    ).select(hash_weight_milli(F.col("t")).alias("w")).agg(
        F.min("w"), F.max("w")
    ).collect()[0]
    assert -1000 <= w[0] and w[1] <= 1000


def test_classifier_plan_is_jvm_partial_agg(spark):
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    plan = score_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


# ---------------------------------------------------------------------------
# quantization
# ---------------------------------------------------------------------------


def _emb_df(spark):
    rows = [
        (1, [0.0, 10.0], 0),
        (2, [1.0, 20.0], 0),
        (3, [2.0, 30.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_ranges_and_codes(spark):
    df = _emb_df(spark)
    ranges = embedding_ranges(df)
    got = {r["pos"]: (r["vmin"], r["vmax"]) for r in ranges.collect()}
    assert got == {0: (0.0, 2.0), 1: (10.0, 30.0)}
    qel = quantize_elements(df, ranges).collect()
    codes = {(r["vec_id"], r["pos"]): r["code"] for r in qel}
    # dim 0: 0,1,2 over [0,2] -> codes 0, 128, 255 (1.0 -> 127.5 rounds up)
    assert codes[(1, 0)] == 0 and codes[(3, 0)] == LEVELS
    assert codes[(2, 0)] in (127, 128)
    # max error bounded by half a quantization step
    step0 = 2.0 / LEVELS
    assert all(
        r["abs_err"] <= step0 / 2 + 1e-12 for r in qel if r["pos"] == 0
    )


def test_constant_dimension_codes_zero(spark):
    df = spark.createDataFrame(
        [(1, [5.0]), (2, [5.0])], "vec_id long, embedding array<float>"
    )
    qel = quantize_elements(df, embedding_ranges(df)).collect()
    assert all(r["code"] == 0 and r["abs_err"] == 0.0 for r in qel)


def test_quantize_plan_no_python_broadcast_join(spark):
    df = _emb_df(spark)
    plan = (
        quantize_elements(df, embedding_ranges(df))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
