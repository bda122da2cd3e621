"""Bucketed interval join + count-min sketch."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kinesis_vcr_spark.operators.rangejoin import interval_join
from kinesis_vcr_spark.operators.sketch import (
    CMS_W,
    cms_estimate,
    cms_sketch,
    heavy_hitters,
)

# ---------------------------------------------------------------------------
# interval join
# ---------------------------------------------------------------------------


@pytest.fixture()
def pts(spark):
    return spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "pid long, t long"
    )


@pytest.fixture()
def ivs(spark):
    #        [25, 60)      [55, 56)        [100, 190)     empty [70, 70)
    return spark.createDataFrame(
        [(1, 25, 60), (2, 55, 56), (3, 100, 190), (4, 70, 70)],
        "iid long, s long, e long",
    )


def _pairs(df):
    return sorted((r.pid, r.iid) for r in df.collect())


def _expected(pts_rows, ivs_rows):
    return sorted(
        (p, i)
        for p, t in pts_rows
        for i, s, e in ivs_rows
        if s <= t < e
    )


def test_interval_join_matches_naive(pts, ivs):
    got = _pairs(interval_join(pts, ivs, "t", "s", "e", bucket_width=16))
    exp = _expected(
        [(r.pid, r.t) for r in pts.collect()],
        [(r.iid, r.s, r.e) for r in ivs.collect()],
    )
    assert got == exp
    assert got  # non-vacuous
    assert (1, 4) not in {(p, i) for p, i in got}  # empty interval drops


def test_interval_join_no_duplicate_pairs(pts, ivs):
    # a long interval spans many buckets; each qualifying pair must
    # appear exactly once (the point's own bucket)
    out = interval_join(pts, ivs, "t", "s", "e", bucket_width=7)
    pairs = [(r.pid, r.iid) for r in out.collect()]
    assert len(pairs) == len(set(pairs))


@pytest.mark.parametrize("width", [1, 3, 16, 1000])
def test_interval_join_bucket_width_invariant(pts, ivs, width):
    base = _pairs(interval_join(pts, ivs, "t", "s", "e", bucket_width=16))
    assert _pairs(interval_join(pts, ivs, "t", "s", "e", bucket_width=width)) == base


def test_interval_join_equi_key(spark):
    pts = spark.createDataFrame(
        [("u1", 5), ("u2", 5)], "uid string, t long"
    )
    ivs = spark.createDataFrame([("u1", 0, 10)], "uid string, s long, e long")
    out = interval_join(pts, ivs, "t", "s", "e", bucket_width=4, on=["uid"])
    assert [(r.uid, r.t) for r in out.collect()] == [("u1", 5)]


def test_interval_join_explode_guard(spark):
    pts = spark.createDataFrame([(1, 5)], "pid long, t long")
    ivs = spark.createDataFrame([(1, 0, 10_000_000)], "iid long, s long, e long")
    with pytest.raises(Exception, match="buckets"):
        interval_join(
            pts, ivs, "t", "s", "e", bucket_width=1, max_buckets_per_interval=100
        ).collect()


def test_interval_join_nanos_precision(spark):
    # int64-nanosecond domain (> 2^53): bucket ids must stay exact
    base = 1_704_067_200_000_000_000
    pts = spark.createDataFrame([(1, base + 1)], "pid long, t long")
    ivs = spark.createDataFrame(
        [(7, base, base + 2), (8, base + 2, base + 4)], "iid long, s long, e long"
    )
    out = interval_join(pts, ivs, "t", "s", "e", bucket_width=3_600_000_000_000)
    assert [(r.pid, r.iid) for r in out.collect()] == [(1, 7)]


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


@pytest.fixture()
def freq_df(spark):
    # value 7 appears 50x, value 8 appears 10x, 40 singletons
    rows = [(7,)] * 50 + [(8,)] * 10 + [(i + 100,) for i in range(40)]
    return spark.createDataFrame(rows, "v long").withColumn("g", F.lit("k"))


def test_cms_never_undercounts(freq_df):
    sketch = cms_sketch(freq_df, ["g"], "v")
    items = freq_df.select("g", "v").distinct()
    est = {r.v: r.est_n for r in cms_estimate(items, sketch, ["g"], "v").collect()}
    assert est[7] >= 50 and est[8] >= 10
    assert all(e >= 1 for e in est.values())


def test_cms_sketch_bounded_and_mergeable(freq_df):
    sketch = cms_sketch(freq_df, ["g"], "v")
    assert sketch.count() <= 4 * CMS_W
    # merging two half-sketches by summing == sketching the whole
    h1 = cms_sketch(freq_df.where(F.col("v") % 2 == 0), ["g"], "v")
    h2 = cms_sketch(freq_df.where(F.col("v") % 2 == 1), ["g"], "v")
    merged = (
        h1.unionByName(h2)
        .groupBy("g", "row", "col")
        .agg(F.sum("n").alias("n"))
    )
    full = {(r.row, r.col): r.n for r in sketch.collect()}
    assert {(r.row, r.col): r.n for r in merged.collect()} == full


def test_heavy_hitters_finds_the_heavy_one(freq_df):
    hh = heavy_hitters(freq_df, ["g"], "v", 0.3)
    vals = {r.v for r in hh.collect()}
    assert 7 in vals  # 50/100 = 0.5 ≥ 0.3
    assert 8 not in vals  # 0.1 < 0.3 — CMS overshoot ≤ e/512·100 < 1
    one = hh.where(F.col("v") == 7).collect()[0]
    assert one.total_n == 100 and one.est_n >= 50


def test_interval_join_plan_is_equi_join(pts, ivs):
    """The whole point: the bucketed plan must contain a hash/merge
    equi-join and NO nested-loop/cartesian stage, while the naive
    BETWEEN join degenerates to BroadcastNestedLoopJoin."""
    from kinesis_vcr_spark.operators.rangejoin import interval_join

    bucketed = interval_join(
        pts, ivs, "t", "s", "e", bucket_width=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in bucketed and "Cartesian" not in bucketed

    from pyspark.sql import functions as F

    naive = pts.join(
        ivs, (F.col("t") >= F.col("s")) & (F.col("t") < F.col("e"))
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" in naive or "Cartesian" in naive


def test_interval_join_num_partitions_pins_parallelism(pts, ivs):
    """num_partitions is the explosive-output escape hatch: AQE sizes
    the join stage from INPUT bytes, so a dense domain can run a
    huge-output join on a handful of tasks (r05 sf1.0 finding). An
    explicit count must (a) not change results and (b) plant
    REPARTITION_BY_NUM exchanges AQE won't coalesce away."""
    base = _pairs(interval_join(pts, ivs, "t", "s", "e", bucket_width=16))
    pinned = interval_join(
        pts, ivs, "t", "s", "e", bucket_width=16, num_partitions=8
    )
    assert _pairs(pinned) == base
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan
