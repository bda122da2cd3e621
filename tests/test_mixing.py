"""Weighted corpus mixing (operators/mixing.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from kinesis_vcr_spark.operators.mixing import weighted_mix


def _corpus(spark, n=1200, n_sources=4):
    return spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % n_sources}", text=f"doc {i}")
         for i in range(n)]
    )


def test_integer_weights_exact_copies(spark):
    df = _corpus(spark, 400)
    mixed = weighted_mix(
        df, "source", ["doc_id"], {"s0": 3.0, "s1": 0.0}, default_weight=1.0
    )
    counts = {r.source: r.n for r in mixed.groupBy("source").count()
              .withColumnRenamed("count", "n").collect()}
    assert counts["s0"] == 300          # 100 docs x 3 exact copies
    assert "s1" not in counts           # dropped entirely
    assert counts["s2"] == counts["s3"] == 100
    # copy ids enumerate 0..2 for the tripled source
    ids = {r.copy_id for r in mixed.where("source = 's0'").collect()}
    assert ids == {0, 1, 2}


def test_fractional_weight_close_to_expectation(spark):
    df = _corpus(spark, 1200)
    mixed = weighted_mix(df, "source", ["doc_id"], {"s0": 2.5, "s1": 0.25})
    counts = {r.source: r.n for r in mixed.groupBy("source").count()
              .withColumnRenamed("count", "n").collect()}
    # 300 docs/source: expectations 750 / 75; hash-uniform within ~20%
    assert abs(counts["s0"] - 750) < 150
    assert abs(counts["s1"] - 75) < 40
    exp = 300 * 2.5 + 300 * 0.25 + 300 + 300  # s2, s3 at weight 1
    assert abs(mixed.count() - exp) < 200


def test_membership_monotone_in_weight(spark):
    """Raising a weight only adds rows: the w=0.3 survivor set is a
    subset of the w=0.8 one (same tickets, higher threshold)."""
    df = _corpus(spark, 800)
    lo = {r.doc_id for r in weighted_mix(
        df, "source", ["doc_id"], {"s0": 0.3}, default_weight=0.0
    ).collect()}
    hi = {r.doc_id for r in weighted_mix(
        df, "source", ["doc_id"], {"s0": 0.8}, default_weight=0.0
    ).collect()}
    assert lo <= hi
    assert len(lo) < len(hi)


def test_deterministic_across_layouts(spark):
    df = _corpus(spark, 500)
    a = sorted((r.doc_id, r.copy_id) for r in weighted_mix(
        df, "source", ["doc_id"], {"s0": 1.5}).collect())
    b = sorted((r.doc_id, r.copy_id) for r in weighted_mix(
        df.repartition(13), "source", ["doc_id"], {"s0": 1.5}).collect())
    assert a == b


def test_negative_weight_rejected(spark):
    with pytest.raises(ValueError):
        weighted_mix(_corpus(spark, 8), "source", ["doc_id"], {"s0": -1.0})
