"""Exact triangle counting — per-node and global, degree-ordered.

Completes the iterative/graph family (components, PageRank, BFS):
triangle participation is the standard local-clustering signal for
community detection, spam/bot scoring on interaction graphs, and
near-dup-graph density audits.

Algorithm (the classic "compact-forward" / node-iterator with degree
orientation, cf. Suri & Vassilvitskii, WWW'11 map-reduce formulation —
public literature):

1. canonicalize to a simple undirected edge set (least, greatest,
   distinct, no self-loops);
2. orient every edge from the endpoint with the SMALLER
   ``(degree, node)`` rank to the larger — each triangle then has
   exactly one "pivot" node whose two oriented out-edges cover it, so
   every triangle is generated once, no post-dedup;
3. wedges = oriented ⋈ oriented on the pivot, keeping the two
   out-neighbors as an ordered-by-rank pair;
4. close the wedge with one more equi-join against the oriented edges.

Scale posture: degree orientation caps oriented out-degree at O(√m),
so wedge generation is O(m^1.5) total work — the bound that makes
exact triangle counting feasible on billion-edge graphs — and hub
nodes (the skew risk) end up with near-zero OUT-degree, so no salting
is needed. All three joins are node-keyed equi-joins (shuffle sized by
the wedge count, never a cartesian); the degree table is node-sized.
The SQL oracle uses plain node-id ordering (three-way self-join with
``a < b < c``) — a different orientation generating the identical
triangle set, which pins that the degree ordering is a pure execution
optimization.

Reference anchor: the reference repo has no graph operators (it is a
record/replay tool — kinesis-vcr/src/main/java/.../KinesisRecorder.java);
this module is part of the training-data-pipeline surface
(SURVEY.md §2.5a E-series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold, release, settle


def _simple_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct ``(a, b)`` with ``a < b``: self-loops and duplicate /
    reverse edges collapse."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") < F.col("b"))
        .distinct()
    )


def _oriented(und: DataFrame) -> DataFrame:
    """Degree-oriented edges ``(lo, hi, hi_deg)`` — lo is the smaller
    ``(degree, node)`` rank. NOT persisted; callers own the lifecycle."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("hi_deg"),
    )


def _close_wedges(x_edges: DataFrame, oriented: DataFrame) -> DataFrame:
    """Triangles ``(x, y, z)`` whose pivot out-edge pair starts from
    ``x_edges`` (a subset of ``oriented``): ordered wedges at the pivot
    closed by one more equi-join."""
    x = x_edges.alias("x")
    y = oriented.alias("y")
    # ordered wedge at the pivot: (hi1, hi2) with rank(hi1) < rank(hi2)
    wedges = x.join(y, F.col("x.lo") == F.col("y.lo")).where(
        (F.col("x.hi_deg") < F.col("y.hi_deg"))
        | (
            (F.col("x.hi_deg") == F.col("y.hi_deg"))
            & (F.col("x.hi") < F.col("y.hi"))
        )
    ).select(
        F.col("x.lo").alias("x"),
        F.col("x.hi").alias("y"),
        F.col("y.hi").alias("z"),
    )
    closer = oriented.select(
        F.col("lo").alias("y"), F.col("hi").alias("z")
    )
    return wedges.join(closer, ["y", "z"])


def triangles(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """All triangles of the undirected simple graph as one row per
    triangle ``(x, y, z)``, ordered by ``(degree, node)`` rank within
    the row (x = pivot = lowest rank). Each triangle appears exactly
    once."""
    # held: `oriented` feeds three join branches (both wedge sides and
    # the closing edge list); the upstream dedup + two degree joins
    # otherwise run once per branch
    oriented = hold(
        "triangles", _oriented(_simple_undirected(edges, src, dst))
    )
    return _close_wedges(oriented, oriented)


#: auto-chunk budget: ~500 M wedge rows ≈ 12 GB raw (×3 longs) per
#: chunk shuffle — sized so one chunk's spill fits a single machine's
#: scratch disk with margin; chunks = ceil(wedges / this)
AUTO_WEDGE_ROWS_PER_CHUNK = 500_000_000


def _counts_from(tri: DataFrame) -> DataFrame:
    return (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def triangle_counts(
    edges: DataFrame,
    src: str,
    dst: str,
    pivot_chunks: int | None = 1,
) -> DataFrame:
    """``(node, triangles)`` — number of triangles each node
    participates in. Nodes in no triangle are absent (join back against
    the node set if zeros are needed).

    ``pivot_chunks > 1`` switches to DISK-BOUNDED execution (learned at
    the r07 sf100 rung): the single-job plan materializes the whole
    wedge set through one shuffle — 4.0 G wedges ≈ 100 GB at sf100,
    which out-sizes a single machine's scratch disk even though the
    O(m^1.5) compute is fine. Because degree orientation gives every
    triangle exactly ONE pivot, partitioning the pivot edge set into
    ``pivot_chunks`` hash chunks partitions the triangle set exactly:
    each chunk runs as its OWN job whose wedge shuffle is ~1/chunks of
    the total, its node-sized partial counts are appended to the
    previous chunks' in one :func:`kinesis_vcr_spark.cacheutil.settle`
    round (scope ``triangle_chunks``, held until the next chunked
    call), and the final result sums the partials.
    Peak scratch disk is one chunk's shuffle instead of the whole wedge
    volume; total compute is unchanged (the oriented table is cached
    columnar once and each chunk re-reads it). On a real cluster the
    aggregate shuffle capacity usually makes ``pivot_chunks=1`` the
    right call — this knob is for when wedge volume and scratch space
    collide, at any scale. Results are identical by construction
    (pinned in tests/test_triangles.py). ``pivot_chunks=None``
    auto-sizes from the exact wedge count (Σ C(out_deg, 2), one cheap
    aggregation over the cached oriented table) against
    ``AUTO_WEDGE_ROWS_PER_CHUNK`` — fixture scales resolve to the
    single-job plan."""
    spark = edges.sparkSession
    oriented = hold(
        "triangle_counts", _oriented(_simple_undirected(edges, src, dst))
    )
    if pivot_chunks is None:
        # auto-size from the exact wedge count — one cheap aggregation
        # over the already-cached oriented table (Σ C(out_deg, 2)),
        # paid once; at fixture scales this resolves to 1 chunk and the
        # single-job plan is byte-identical to pivot_chunks=1
        est = (
            oriented.groupBy("lo")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(
                F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w")
            )
            .collect()[0]["w"]
        )
        pivot_chunks = max(
            1, -(-int(est or 0) // AUTO_WEDGE_ROWS_PER_CHUNK)
        )
    if pivot_chunks <= 1:
        return _counts_from(_close_wedges(oriented, oriented))
    out = None
    for i in range(pivot_chunks):
        chunk = oriented.where(
            F.pmod(F.xxhash64(F.col("lo")), F.lit(pivot_chunks)) == i
        )
        part = _counts_from(_close_wedges(chunk, oriented))
        # one round per chunk, node-sized partials accumulated: the
        # chunk's wedge shuffle becomes garbage the moment the round's
        # count materializes it
        out, _ = settle(
            part if out is None else out.unionByName(part),
            "triangle_chunks", i,
        )
        # nudge the JVM so the finished chunk's shuffle files are
        # eligible for ContextCleaner removal before the next chunk
        # piles its own on top — this is the whole point of chunking
        spark.sparkContext._jvm.System.gc()
    release(oriented)  # the rounds are checkpointed; safe to drop
    return out.groupBy("node").agg(F.sum("triangles").alias("triangles"))
