"""k-core decomposition — iterative peeling, the graph-hygiene
operator that completes the graph family (components, PageRank, BFS,
triangles).

The k-core is the maximal subgraph in which every node has degree ≥ k
(Seidman 1983, public literature) — the standard "dense part of the
graph" primitive for spam/bot rings, community seeding, and pruning
near-dup graphs before expensive per-pair work. Peeling converges to
the unique fixpoint: repeatedly delete nodes of degree < k; what
survives is the k-core regardless of deletion order.

Spark shape (mirrors the iterative-family discipline of
operators/components.py and pagerank.py):

- the degree table is NODE-sized; both anti-joins against the
  cumulative removed set go through
  :func:`kinesis_vcr_spark.cacheutil.broadcast_if_small` with its exact
  count, so the edge table never shuffles while the set is bounded and
  the planner falls back to a shuffle anti-join past the bound (not an
  8 GB-limit / driver-OOM wall);
- each peel round is one :func:`kinesis_vcr_spark.cacheutil.settle` of
  the removed set (the round rule of the iterative graph loops is
  stated there);
- iteration count is the graph's peeling depth (≤ its degeneracy
  ordering rounds, typically ≪ node count); ``max_iterations`` is a
  loud-failure guard, which the oracle-paired query relies on — the
  DuckDB oracle unrolls exactly ``max_iterations`` peel steps, so a
  fixture that ever needed more would raise here rather than silently
  diverge.

Reference anchor: no counterpart in the reference (record/replay
tool); SURVEY.md §2.5a E-series (graph family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import broadcast_if_small, hold, release, settle
from kinesis_vcr_spark.operators.triangles import _simple_undirected


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def kcore_edges(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int,
    max_iterations: int = 50,
) -> DataFrame:
    """Edges ``(a, b)`` (canonical ``a < b``) of the k-core of the
    undirected simple graph. Raises after ``max_iterations`` peel
    rounds without convergence (see module docstring for why loud).

    Memory shape (learned at the sf100 rung, r07): the original design
    ``localCheckpoint``-ed the FILTERED EDGE TABLE every round — an
    edge-sized materialization per peel, row-object overhead included,
    which OOMed a 96 g heap on a 500 M-edge graph regardless of how
    promptly superseded rounds were unpersisted. Peeling state is
    node-sized by nature, so now only the cumulative PEELED-NODE set is
    checkpointed per round (truncating the iterative lineage), while
    the canonical edge table is cached ONCE in compressed columnar form
    and re-filtered against that set each round. Per-round compute is
    two broadcast anti-joins + one degree aggregation over the cached
    base — same as before at shallow peel depths (real graphs converge
    in a handful of rounds; the fixtures in two) — and peak storage is
    one columnar copy of the edges plus a node set, at any scale."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = hold("kcore_edges", _simple_undirected(edges, src, dst))
    removed: DataFrame | None = None  # schema follows the node id type
    removed_count = 0  # maintained exactly: bad-set counts are disjoint

    def alive(rm: DataFrame | None, rows: int) -> DataFrame:
        if rm is None:
            return base
        out = base
        for c in ("a", "b"):
            side = broadcast_if_small(rm.select(F.col("node").alias(c)), rows)
            out = out.join(side, c, "left_anti")
        return out

    for i in range(max_iterations + 1):  # +1: the final fixpoint check
        cur = alive(removed, removed_count)
        bad = _degrees(cur).where(F.col("deg") < k).select("node")
        # the cumulative peeled set is the round's checkpoint; bad is
        # disjoint from prior removals, so progress is the count delta
        removed, total = settle(
            bad if removed is None else removed.unionByName(bad), "kcore", i
        )
        if total == removed_count:
            # at the fixpoint the held round has cur's removed rows. The
            # returned lineage is already shallow (source + two
            # anti-joins against the checkpointed node set) — no
            # edge-sized checkpoint of the result, which would
            # reintroduce the very materialization this shape exists
            # to avoid. The base is RELEASED here, costing the
            # caller's consuming action one re-scan of the source:
            # leaving it cached poisons any LATER call whose scan
            # canonicalizes to the same plan — InMemoryFileIndex
            # equality is by root paths only, so a re-run over the
            # same path with NEW data (the streaming snapshot shape,
            # one k-core per trigger) would be served this call's
            # stale cached edges — and accumulates an edge-sized cache
            # entry per call besides.
            release(base)
            return alive(removed, total)
        removed_count = total
    release(base)  # out of peel budget and still not converged
    raise RuntimeError(
        f"{k}-core peeling did not converge within {max_iterations} "
        "iterations — raise max_iterations (and, for an oracle-paired "
        "query, the oracle's unroll depth with it)"
    )


def kcore_nodes(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int,
    max_iterations: int = 50,
) -> DataFrame:
    """``(node, core_deg)`` for every node of the k-core — its degree
    WITHIN the core (≥ k by the fixpoint), the per-node output the
    audit queries want."""
    return _degrees(kcore_edges(edges, src, dst, k, max_iterations)).select(
        "node", F.col("deg").alias("core_deg")
    )
