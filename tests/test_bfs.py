"""Multi-source BFS (operators/bfs.py)."""

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.bfs import bfs_distances


def _dist(df):
    return {r["node"]: r["distance"] for r in df.collect()}


def _seeds(spark, *vals):
    return spark.createDataFrame([(v,) for v in vals], "seed long")


def test_chain_distances(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "s long, d long"
    )
    got = _dist(bfs_distances(edges, "s", "d", _seeds(spark, 0), "seed", 3))
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # node 4 beyond max_depth


def test_min_distance_wins_on_multiple_paths(spark):
    # 0->1->3 and 0->3: node 3 is at distance 1, not 2
    edges = spark.createDataFrame(
        [(0, 1), (1, 3), (0, 3)], "s long, d long"
    )
    got = _dist(bfs_distances(edges, "s", "d", _seeds(spark, 0), "seed", 4))
    assert got == {0: 0, 1: 1, 3: 1}


def test_multi_source_takes_nearest_seed(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (9, 2)], "s long, d long"
    )
    got = _dist(
        bfs_distances(edges, "s", "d", _seeds(spark, 0, 9), "seed", 4)
    )
    assert got == {0: 0, 9: 0, 1: 1, 2: 1}  # 2 via seed 9, not 0->1->2


def test_directed_edges_not_followed_backwards(spark):
    edges = spark.createDataFrame([(1, 0)], "s long, d long")
    got = _dist(bfs_distances(edges, "s", "d", _seeds(spark, 0), "seed", 4))
    assert got == {0: 0}  # 1 -> 0 gives 0 no outgoing reach


def test_cycle_terminates_early(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "s long, d long"
    )
    got = _dist(
        bfs_distances(edges, "s", "d", _seeds(spark, 0), "seed", 50)
    )
    assert got == {0: 0, 1: 1, 2: 2}  # early exit, no infinite loop


def test_seed_rediscovery_keeps_zero(spark):
    # seed reachable from another seed must stay at distance 0
    edges = spark.createDataFrame([(0, 9)], "s long, d long")
    got = _dist(
        bfs_distances(edges, "s", "d", _seeds(spark, 0, 9), "seed", 4)
    )
    assert got == {0: 0, 9: 0}


def test_shuffle_join_path_matches_broadcast(spark, monkeypatch):
    import random

    from kinesis_vcr_spark import cacheutil

    rng = random.Random(3)
    edges = spark.createDataFrame(
        [(rng.randrange(40), rng.randrange(40)) for _ in range(150)],
        "s long, d long",
    )
    seeds = _seeds(spark, 0, 7)
    a = _dist(bfs_distances(edges, "s", "d", seeds, "seed", 3))
    # a zero broadcast bound: every frontier / visited join unhinted
    monkeypatch.setattr(cacheutil, "BROADCAST_ROWS_MAX", 0)
    b = _dist(bfs_distances(edges, "s", "d", seeds, "seed", 3))
    assert a == b


def test_validation(spark):
    edges = spark.createDataFrame([(0, 1)], "s long, d long")
    with pytest.raises(ValueError, match="max_depth"):
        bfs_distances(edges, "s", "d", _seeds(spark, 0), "seed", -1)
    # max_depth=0: just the seeds
    got = _dist(bfs_distances(edges, "s", "d", _seeds(spark, 0), "seed", 0))
    assert got == {0: 0}
