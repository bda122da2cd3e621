"""k-core peeling (operators/kcore.py): known cores, sequential-peel
convergence, loud non-convergence guard."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from kinesis_vcr_spark.operators.kcore import kcore_edges, kcore_nodes


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


# K4 on {1..4} with a pendant path 4-10-11 hanging off it
K4_PLUS_TAIL = (
    [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    + [(4, 10), (10, 11)]
)


def test_two_core_peels_tail_sequentially(spark):
    """The tail 11→10 must peel over TWO rounds (11 first, which only
    then drops 10 below degree 2) — pins the iteration, not just the
    final filter."""
    df = _edges(spark, K4_PLUS_TAIL)
    nodes = {
        r.node: r.core_deg for r in kcore_nodes(df, "src", "dst", 2).collect()
    }
    assert nodes == {1: 3, 2: 3, 3: 3, 4: 3}
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_edges(df, "src", "dst", 2, max_iterations=1)


def test_three_core_of_k4_is_k4_and_four_core_empty(spark):
    df = _edges(spark, K4_PLUS_TAIL)
    assert kcore_edges(df, "src", "dst", 3).count() == 6
    assert kcore_edges(df, "src", "dst", 4).count() == 0


def test_duplicate_and_reversed_edges_collapse(spark):
    df = _edges(spark, K4_PLUS_TAIL + [(2, 1), (1, 2), (3, 3)])
    nodes = {r.node for r in kcore_nodes(df, "src", "dst", 2).collect()}
    assert nodes == {1, 2, 3, 4}


def test_k_must_be_positive(spark):
    with pytest.raises(ValueError, match=">= 1"):
        kcore_edges(_edges(spark, [(1, 2)]), "src", "dst", 0)


def test_convergence_on_exactly_max_iterations_peels(spark):
    """A graph whose fixpoint arrives on the LAST allowed peel must
    converge, not raise (ADVICE r06): the oracle unrolls exactly
    max_iterations steps, so the guard must permit exactly that many.
    A 5-path at k=2 peels to empty in exactly 2 rounds."""
    path5 = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert kcore_edges(path5, "src", "dst", 2, max_iterations=2).count() == 0
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_edges(path5, "src", "dst", 2, max_iterations=1)


def test_rerun_over_same_path_sees_new_data(spark, tmp_path):
    """The CacheManager trap the streaming snapshot hit (r07):
    InMemoryFileIndex equality is by root paths only, so a second
    k-core over the SAME parquet path after the data changed
    canonicalizes to the first run's cached ``base`` plan — if the
    operator left its columnar base persisted, the second run would be
    served the FIRST run's edges and report an empty core here."""
    p = str(tmp_path / "edges")
    # 6 of K5's 10 edges: 3-core empty
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    _edges(spark, k5[:6]).write.mode("overwrite").parquet(p)
    first = kcore_nodes(spark.read.parquet(p), "src", "dst", 3)
    assert first.count() == 0
    # full K5 lands at the same path: 3-core is all five nodes
    _edges(spark, k5).write.mode("overwrite").parquet(p)
    second = kcore_nodes(spark.read.parquet(p), "src", "dst", 3)
    assert {r.node for r in second.collect()} == {0, 1, 2, 3, 4}


def test_broadcast_bound_falls_back_to_shuffle_anti_join(spark, monkeypatch):
    """With BROADCAST_ROWS_MAX forced to 0, every post-first-round
    anti-join runs WITHOUT the broadcast hint (the unbounded-broadcast
    guard from the r07 memory rework) — the fixpoint must be identical.
    The K4+tail fixture needs two peel rounds, so round 2's alive()
    exercises the fallback path."""
    from kinesis_vcr_spark import cacheutil

    df = _edges(spark, K4_PLUS_TAIL)
    monkeypatch.setattr(cacheutil, "BROADCAST_ROWS_MAX", 0)
    nodes = {
        r.node: r.core_deg for r in kcore_nodes(df, "src", "dst", 2).collect()
    }
    assert nodes == {1: 3, 2: 3, 3: 3, 4: 3}
