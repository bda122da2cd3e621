"""PageRank — iterative link analysis, engine-portably EXACT.

Beyond connected components (:mod:`operators/components`), the second
classic iterative graph op a pipeline wants: rank nodes of an
interaction/citation/duplicate graph by stationary visit probability
(Page et al. 1999). Two things make this implementation different from
a textbook float PageRank:

- **Micro-integer arithmetic.** Ranks are int64 micro-units (1.0 ≡
  ``unit`` = 10^6). Per-edge contribution is ``(rank div outdeg) * w``
  and the damping step is ``(d_pct · Σ) div 100 + ((100 − d_pct) ·
  unit) div 100`` — every operation is exact int64, so sums are
  ORDER-INDEPENDENT and the result is bit-identical across engines,
  partitionings, and retries. A float PageRank cannot be value-hashed
  against an oracle; this one can (same trick as the LM/PMI queries).
  The cost: ``div`` drops remainders, so a little mass leaks per
  iteration — deterministically, identically everywhere.
- **Fixed iteration count**, not convergence-test: ``iterations`` is
  part of the result's definition (an oracle can unroll it; a
  data-dependent stopping rule could diverge across engines).

Spark shape per iteration: ranks and out-degrees are NODE-sized, so
while the exact node count is within
:data:`kinesis_vcr_spark.cacheutil.BROADCAST_ROWS_MAX` they broadcast
onto the edge table — the edges (the big side at scale) are never
shuffled; the only exchange is the node-sized groupBy(dst). Past that
bound the planner picks co-partitioned shuffle joins on the edge key.
Every :data:`CHECKPOINT_EVERY` iterations (and after the last) the
ranks are one :func:`kinesis_vcr_spark.cacheutil.settle` (the round
rule of the iterative graph loops is stated there) — without lineage
truncation, iteration i re-plans all i−1 predecessors.

Dangling nodes (outdeg 0) keep only their teleport share — their mass
leaks rather than redistributing, deterministically on both engines
(the redistribute variant needs one extra global sum per iteration;
not worth it for ranking use-cases).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import (
    broadcast_if_small, release, settle, truncate,
)

DEFAULT_UNIT = 1_000_000
#: iterations between lineage truncations of the ranks
CHECKPOINT_EVERY = 3


def pagerank_micro(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str | None = None,
    iterations: int = 10,
    damping_pct: int = 85,
    unit: int = DEFAULT_UNIT,
) -> DataFrame:
    """``(node, rank_micro)`` after ``iterations`` exact-integer
    PageRank steps over the (multi-)edge list.

    ``weight=None`` collapses duplicate (src, dst) rows into an integer
    multiplicity weight; pass a column name to use explicit integer
    weights. ``damping_pct`` is the damping factor in percent (85 ≡
    0.85) — integer so the damping step stays exact.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")

    if weight is None:
        w = edges.groupBy(
            F.col(src).alias("__src"), F.col(dst).alias("__dst")
        ).agg(F.count(F.lit(1)).alias("__w"))
    else:
        w = edges.select(
            F.col(src).alias("__src"),
            F.col(dst).alias("__dst"),
            F.col(weight).cast("long").alias("__w"),
        )
    w = truncate(w)  # edges feed every iteration: compute once

    nodes, n_nodes = settle(
        w.select(F.col("__src").alias("node"))
        .union(w.select(F.col("__dst").alias("node")))
        .distinct(),
        "pagerank_nodes", 0,
    )
    outdeg = w.groupBy("__src").agg(F.sum("__w").alias("__od"))
    od_in = broadcast_if_small(outdeg, n_nodes)

    teleport = ((100 - damping_pct) * unit) // 100
    ranks = nodes.select("node", F.lit(unit).cast("long").alias("rank_micro"))
    for i in range(1, iterations + 1):
        r_in = broadcast_if_small(ranks, n_nodes)
        contrib = (
            w.join(r_in, w["__src"] == r_in["node"])
            .join(od_in.withColumnRenamed("__src", "__osrc"),
                  F.col("__src") == F.col("__osrc"))
            .select(
                F.col("__dst").alias("node"),
                (
                    F.expr("rank_micro div __od") * F.col("__w")
                ).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__csum"))
        )
        # exact integer damping: (d_pct * csum) div 100 + teleport —
        # `div` (int64), never `/` (a float intermediate would round
        # above 2^53 and break cross-engine bit-parity)
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.expr(
                    f"({damping_pct} * coalesce(__csum, 0L)) div 100"
                )
                + F.lit(teleport)
            ).alias("rank_micro"),
        )
        if i % CHECKPOINT_EVERY == 0 or i == iterations:
            ranks, _ = settle(ranks, "pagerank", i)
    release(nodes)
    release(w)
    return ranks
