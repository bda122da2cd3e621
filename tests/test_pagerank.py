"""Exact-integer PageRank (operators/pagerank.py)."""

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.pagerank import pagerank_micro

UNIT = 1_000_000


def _ranks(df):
    return {r["node"]: r["rank_micro"] for r in df.collect()}


def test_two_node_cycle_is_fixed_point(spark):
    # A<->B: each forwards its whole rank; 0.85*1e6 + 0.15*1e6 = 1e6
    edges = spark.createDataFrame([(0, 1), (1, 0)], "s long, d long")
    got = _ranks(pagerank_micro(edges, "s", "d", iterations=7))
    assert got == {0: UNIT, 1: UNIT}


def test_star_hub_accumulates(spark):
    # spokes 1..4 -> hub 0; hub -> 1 (so hub isn't dangling). This
    # graph's power iteration oscillates with period 2 (hub and spoke 1
    # trade mass), decaying by d² per cycle — run enough iterations for
    # the steady state (hub ≈ 1.92, spoke1 ≈ 1.78, others 0.15).
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(0, 1)], "s long, d long"
    )
    got = _ranks(pagerank_micro(edges, "s", "d", iterations=40))
    assert got[0] == max(got.values())  # hub outranks every spoke
    assert got[2] == got[3] == got[4]  # symmetric spokes tie exactly
    assert got[1] > got[2]  # spoke 1 also receives the hub's mass


def test_hand_computed_one_iteration(spark):
    # chain 0 -> 1 -> 2; one iteration from uniform 1e6:
    #   node0: teleport only = 150000
    #   node1: 0.85*(1e6 div 1) + 150000 = 1000000
    #   node2: same = 1000000
    edges = spark.createDataFrame([(0, 1), (1, 2)], "s long, d long")
    got = _ranks(pagerank_micro(edges, "s", "d", iterations=1))
    assert got == {0: 150_000, 1: UNIT, 2: UNIT}


def test_multi_edges_count_as_weight(spark):
    # 0 -> 1 twice and 0 -> 2 once: outdeg 3, node1 gets 2 shares
    edges = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)], "s long, d long"
    )
    got = _ranks(pagerank_micro(edges, "s", "d", iterations=1))
    # node1: 0.85 * 2*(1e6 div 3) + 150000 ; node2 half the share
    share = UNIT // 3
    assert got[1] == (85 * 2 * share) // 100 + 150_000
    assert got[2] == (85 * share) // 100 + 150_000


def test_explicit_weight_column(spark):
    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 1), (1, 0, 1), (2, 0, 1)],
        "s long, d long, w long",
    )
    implicit = spark.createDataFrame(
        [(0, 1), (0, 1), (0, 2), (1, 0), (2, 0)], "s long, d long"
    )
    a = _ranks(pagerank_micro(edges, "s", "d", weight="w", iterations=5))
    b = _ranks(pagerank_micro(implicit, "s", "d", iterations=5))
    assert a == b


def test_dangling_mass_leaks_deterministically(spark):
    # 0 -> 1, 1 has no out-edges: after iteration 1 node1 holds
    # 0.85*1e6+150000 = 1e6 but forwards nothing; node0 drops to
    # teleport. Total mass strictly decreases — deterministically.
    edges = spark.createDataFrame([(0, 1)], "s long, d long")
    r1 = _ranks(pagerank_micro(edges, "s", "d", iterations=1))
    assert r1 == {0: 150_000, 1: UNIT}
    r2 = _ranks(pagerank_micro(edges, "s", "d", iterations=2))
    assert r2 == {0: 150_000, 1: (85 * 150_000) // 100 + 150_000}


def test_partitioning_invariance_bit_exact(spark, monkeypatch):
    import random

    from kinesis_vcr_spark import cacheutil

    rng = random.Random(11)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(200)]
    df = spark.createDataFrame(edges, "s long, d long")
    a = _ranks(pagerank_micro(df.repartition(1), "s", "d", iterations=6))
    b = _ranks(
        pagerank_micro(df.repartition(13, "d"), "s", "d", iterations=6)
    )
    # a zero broadcast bound: ranks and out-degree joins unhinted
    monkeypatch.setattr(cacheutil, "BROADCAST_ROWS_MAX", 0)
    c = _ranks(pagerank_micro(df.repartition(7), "s", "d", iterations=6))
    assert a == b == c  # int64 sums are order-independent


def test_validation(spark):
    df = spark.createDataFrame([(0, 1)], "s long, d long")
    with pytest.raises(ValueError, match="iterations"):
        pagerank_micro(df, "s", "d", iterations=0)
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank_micro(df, "s", "d", damping_pct=101)
