"""Connected-components properties: chains, cliques, isolation,
determinism of the min-id root."""

from __future__ import annotations

import pytest

from kinesis_vcr_spark.operators.components import connected_components
from tests.test_cacheutil import LOOPS


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    rows = connected_components(df).collect()
    return {r["node"]: r["component"] for r in rows}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: everything labels to 1
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_two_components(spark):
    got = _cc(spark, [(10, 20), (20, 30), (7, 8)])
    assert got == {10: 10, 20: 10, 30: 10, 7: 7, 8: 7}


def test_clique_and_direction_independence(spark):
    # direction of edges must not matter
    got = _cc(spark, [(5, 3), (3, 9), (9, 5)])
    assert got == {3: 3, 5: 3, 9: 3}


def test_nonconvergence_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, max_iter=0)


def test_random_graphs_match_union_find(spark):
    """Property: on random edge sets, the distributed hash-min labels
    equal a classic union-find's min-id components."""
    import random

    def union_find_components(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-id root per node
        return {n: find(n) for n in parent}

    rng = random.Random(42)
    for trial in range(3):
        n_nodes, n_edges = 30, rng.randint(10, 40)
        pairs = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        expected = union_find_components(pairs)
        got = _cc(spark, pairs)
        assert got == expected, f"trial {trial}: {sorted(pairs)}"


# loop -> (depth of its tests.test_cacheutil fixture, jobs per call):
# components at its count while the posture was a checkpoint_dir
# argument, the rest as first measured on the context's posture
DURABLE = {
    "components": (6, 46),
    "kcore": (2, 18),
    "bfs": (6, 39),
    "pagerank": (6, 36),
}


@pytest.mark.parametrize("loop", list(DURABLE))
def test_durable_checkpoint_path(spark, count_jobs, request, loop):
    """With a checkpoint directory on the context, every loop's rounds
    are reliable checkpoint() files (executor-loss-safe at cluster
    scale). Results must equal the local posture's, a call may cost no
    more jobs than pinned (its extra job per round is the checkpoint
    write), and three calls leave one ``rdd-*`` directory: each round
    is deleted when the next one is materialized, the returned frame's
    at the next call."""
    import os

    call = LOOPS[loop][0]
    depth, max_jobs = DURABLE[loop]

    def rows():
        return sorted(map(tuple, call(spark, depth).collect()))

    local = rows()
    ckpt = request.getfixturevalue("durable")
    for _ in range(3):
        jobs, got = count_jobs(rows)
        assert got == local
        assert jobs <= max_jobs, jobs
    rdd_dirs = [
        d for _, dirs, _ in os.walk(ckpt) for d in dirs
        if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) == 1, rdd_dirs
