"""Exact triangle counting (operators/triangles.py)."""

import gc

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.triangles import (
    triangle_counts,
    triangles,
)


def _counts(df):
    return {r["node"]: r["triangles"] for r in df.collect()}


def test_single_triangle(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "s long, d long"
    )
    assert triangles(edges, "s", "d").count() == 1
    assert _counts(triangle_counts(edges, "s", "d")) == {0: 1, 1: 1, 2: 1}


def test_k4_every_node_in_three(spark):
    # complete graph on 4 nodes: C(4,3) = 4 triangles, each node in 3
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "s long, d long",
    )
    assert triangles(edges, "s", "d").count() == 4
    assert _counts(triangle_counts(edges, "s", "d")) == {
        0: 3, 1: 3, 2: 3, 3: 3,
    }


def test_each_triangle_generated_once(spark):
    # K4 triangles as ordered triples must be 4 DISTINCT rows — the
    # degree orientation admits exactly one pivot per triangle
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "s long, d long",
    )
    tri = triangles(edges, "s", "d")
    assert tri.count() == tri.distinct().count() == 4


def test_square_has_no_triangles(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "s long, d long"
    )
    assert triangles(edges, "s", "d").count() == 0
    assert triangle_counts(edges, "s", "d").count() == 0


def test_duplicate_reverse_and_self_edges_collapse(spark):
    # one triangle, drowned in noise: dup edges, both directions,
    # self-loops — the simple-graph canonicalization must drop them all
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 1), (1, 2), (2, 0), (0, 0), (2, 2), (2, 1)],
        "s long, d long",
    )
    assert triangles(edges, "s", "d").count() == 1
    assert _counts(triangle_counts(edges, "s", "d")) == {0: 1, 1: 1, 2: 1}


def test_hub_with_pendant_spokes(spark):
    # hub 0 connected to 1..5; only (1,2) closes a triangle — pendant
    # spokes 3..5 participate in none and are absent from the counts
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(1, 2)], "s long, d long"
    )
    assert _counts(triangle_counts(edges, "s", "d")) == {0: 1, 1: 1, 2: 1}


def test_two_shared_edge_triangles(spark):
    # triangles {0,1,2} and {0,1,3} share edge (0,1): nodes 0,1 in two
    # triangles, nodes 2,3 in one each
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (0, 3), (1, 3)], "s long, d long"
    )
    assert _counts(triangle_counts(edges, "s", "d")) == {
        0: 2, 1: 2, 2: 1, 3: 1,
    }


def test_matches_naive_id_ordered_count(spark):
    # pseudo-random graph: degree-oriented plan must equal the naive
    # a<b<c three-way join (the oracle's formulation)
    import random

    rnd = random.Random(7)
    raw = [(rnd.randrange(30), rnd.randrange(30)) for _ in range(200)]
    edges = spark.createDataFrame(raw, "s long, d long")
    und = (
        edges.select(
            F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    naive = (
        e1.join(
            e2,
            (F.col("e2.a") == F.col("e1.a"))
            & (F.col("e2.b") > F.col("e1.b")),
        )
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.b"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .count()
    )
    assert triangles(edges, "s", "d").count() == naive


def test_plan_all_equi_joins_no_python(spark):
    # scale pin: no cartesian product, no BroadcastNestedLoop beyond
    # Spark's choice for tiny sides, zero Python stages
    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a < b],
        "s long, d long",
    )
    plan = triangle_counts(edges, "s", "d")._sc is not None and \
        triangle_counts(edges, "s", "d")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_pivot_chunked_counts_identical(spark):
    """Disk-bounded chunked execution partitions the triangle set
    exactly (one pivot per triangle), so per-node counts are identical
    for any chunk count, and auto-sizing resolves small graphs to one
    chunk."""
    from kinesis_vcr_spark.operators.triangles import triangle_counts

    edges = spark.createDataFrame(
        [(i, j) for i in range(8) for j in range(i + 1, 8)]  # K8
        + [(100, 101), (101, 102), (100, 102), (4, 100)],
        "src long, dst long",
    )
    plain = {
        (r.node, r.triangles)
        for r in triangle_counts(edges, "src", "dst").collect()
    }
    for chunks in (2, 3, 7):
        got = {
            (r.node, r.triangles)
            for r in triangle_counts(
                edges, "src", "dst", pivot_chunks=chunks
            ).collect()
        }
        assert got == plain, chunks
    auto = {
        (r.node, r.triangles)
        for r in triangle_counts(
            edges, "src", "dst", pivot_chunks=None
        ).collect()
    }
    assert auto == plain


@pytest.mark.parametrize("op", ["triangles", "triangle_counts"])
def test_calls_hold_one_oriented_relation(spark, op):
    """Each call holds its oriented edge table for the plan it returns
    and releases the previous call's: over K4, K5 and K6 in one session
    (GC off, so nothing else frees a block) one persisted RDD is left,
    not one per call."""
    sc = spark.sparkContext
    first = sc._jsc.sc().newRddId()
    gc.disable()
    try:
        for n in (4, 5, 6):
            edges = spark.createDataFrame(
                [(a, b) for a in range(n) for b in range(a + 1, n)],
                "s long, d long",
            )
            if op == "triangles":
                assert triangles(edges, "s", "d").count() == (
                    n * (n - 1) * (n - 2) // 6
                )
            else:
                per_node = (n - 1) * (n - 2) // 2
                assert _counts(
                    triangle_counts(edges, "s", "d", pivot_chunks=1)
                ) == {v: per_node for v in range(n)}
        persisted = [
            i for i in sc._jsc.getPersistentRDDs().keys() if i > first
        ]
    finally:
        gc.enable()
    assert len(persisted) == 1, persisted
