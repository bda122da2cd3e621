"""Connected-components properties: chains, cliques, isolation,
determinism of the min-id root."""

from __future__ import annotations

import pytest

from kinesis_vcr_spark.operators.components import connected_components


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


def test_durable_checkpoint_path(spark, tmp_path, count_jobs):
    """checkpoint_dir switches per-round truncation to reliable
    checkpoint() files (executor-loss-safe at cluster scale); results
    must be identical to the localCheckpoint path, the durable posture
    may cost no more jobs than before the round helper (25 on this
    fixture: its extra job per round is the checkpoint write), and each
    call leaves at most the one checkpoint directory its returned frame
    reads: every superseded round's ``rdd-*`` directory is deleted."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"
    )
    jobs, rows = count_jobs(
        lambda: connected_components(df, checkpoint_dir=ckpt).collect()
    )
    labels = {r["node"]: r["component"] for r in rows}
    assert labels == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    local = connected_components(df).collect()
    assert labels == {r["node"]: r["component"] for r in local}
    assert jobs <= 25, jobs
    again = connected_components(df, checkpoint_dir=ckpt).collect()
    assert labels == {r["node"]: r["component"] for r in again}
    # reliable checkpoint files actually landed in the directory, and
    # only the returned frames' are left
    rdd_dirs = [
        d for _, dirs, _ in os.walk(ckpt) for d in dirs
        if d.startswith("rdd-")
    ]
    assert 1 <= len(rdd_dirs) <= 2, rdd_dirs
    # both calls reuse one checkpoint directory instead of setting a new
    # UUID directory per round
    assert len(os.listdir(ckpt)) == 1, os.listdir(ckpt)
