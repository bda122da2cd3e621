"""Multi-source BFS — k-hop min-distances over an edge list.

Completes the iterative-graph family (connected components, PageRank):
"how far is every node from a seed set" powers k-hop neighborhood
audits (blast radius of a contaminated document through the near-dup
graph, reach of a user cohort through an interaction graph).

Distances are exact small integers, so unlike float graph algorithms
this is trivially engine-portable: a SQL oracle expresses the same
result as a recursive CTE (reachability needs no aggregate inside the
recursion — ``UNION`` dedups (node, depth) pairs and a final GROUP BY
MIN(depth) runs outside it).

Spark shape per hop: the frontier (nodes discovered last hop) and the
visited set are node-sized, so while their exact counts are within
:data:`kinesis_vcr_spark.cacheutil.BROADCAST_ROWS_MAX` they broadcast
onto the edge table — edges never shuffle; the per-hop exchanges are
the candidate ``distinct`` and the anti-join against already-visited
nodes, both node-sized. Each hop is one
:func:`kinesis_vcr_spark.cacheutil.settle` of the visited set, counting
the nodes it just discovered, which are the next frontier (the round
rule of the iterative graph loops is stated there). Early exit:
expansion stops when a hop discovers nothing new, so ``max_depth`` is
a cap, not a fixed cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import broadcast_if_small, settle


def bfs_distances(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame,
    seed_col: str,
    max_depth: int = 4,
) -> DataFrame:
    """``(node, distance)`` — min hop count from any seed, for every
    node within ``max_depth`` directed hops (seeds themselves at 0).

    ``seeds`` is a DataFrame (one column ``seed_col``); duplicate seeds
    are fine. Unreachable nodes are absent from the result.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    visited, n_new = settle(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("distance", F.lit(0).cast("long")),
        "bfs", 0,
    )
    n_visited = n_new
    for depth in range(1, max_depth + 1):
        frontier = visited.where(F.col("distance") == depth - 1)
        f_in = broadcast_if_small(frontier.select("node"), n_new)
        v_in = broadcast_if_small(visited.select("node"), n_visited)
        fresh = (
            e.join(f_in, e["__s"] == f_in["node"])
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(v_in, "node", "left_anti")
            .withColumn("distance", F.lit(depth).cast("long"))
        )
        visited, n_new = settle(
            visited.unionByName(fresh), "bfs", depth,
            where=F.col("distance") == depth,
        )
        if n_new == 0:  # frontier exhausted: early exit
            break
        n_visited += n_new
    return visited
