"""Connected components over a pair/edge DataFrame — the clustering
step that turns near-duplicate PAIRS into dedup GROUPS (keep one doc
per component, drop the rest).

Algorithm: hash-min label propagation. Every node starts labeled with
its own id; each round, every node takes the min label among itself and
its neighbors; converged when no label changes. Rounds needed = graph
diameter — near-dup graphs are overwhelmingly small cliques/chains
(diameter ≤ ~3), so this converges in a handful of keyed shuffles.

Scale posture:

- each round is one equi-join (edges ⋈ labels, keyed on node id) + one
  groupBy-min with full map-side combine — no cross joins, no driver
  data paths; the convergence check is the count of changed labels
  that :func:`kinesis_vcr_spark.cacheutil.settle` takes per round, which
  is also the round's lineage truncation, release and log record (the
  round rule of the iterative graph loops is stated there).
- for adversarial graphs with long chains (diameter ≫ rounds), switch
  to alternating large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) — same
  join+min building blocks, O(log²) rounds; not needed for dedup
  workloads and kept out for simplicity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import release, settle, truncate


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Labels every node reachable through ``edges`` with the MIN node
    id of its component (deterministic root). Returns ``(node, component)``
    for nodes that appear in at least one edge. The labels are the last
    round's checkpoint, held until the next call: consume them first.

    Raises if not converged within ``max_iter`` rounds (a near-dup
    graph needing 25 rounds indicates a pathological chain — see the
    star-contraction note in the module docstring).
    """

    # materialize the edge list ONCE before the symmetrize-union: the
    # union references `edges` twice, and an expensive upstream (e.g. an
    # LSH pair pipeline) would otherwise execute per branch — and again
    # every round
    edges = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = truncate(edges)
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = start = truncate(
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    comp_type = labels.schema["component"].dataType
    for i in range(1, max_iter + 1):
        msgs = und.join(
            labels, und["a"] == labels["node"]
        ).select(F.col("b").alias("node"), "component")
        # carry each node's OLD label through the min-aggregation (the
        # labels branch contributes exactly one non-null __old per
        # node), so the convergence check is a filter over the
        # checkpointed result instead of a labels⋈new_labels join job
        # per round — one fewer join+sort pass per iteration, same
        # labels bit-for-bit
        cand = labels.withColumn("__old", F.col("component")).unionByName(
            msgs.withColumn("__old", F.lit(None).cast(comp_type))
        )
        full, changed = settle(
            cand.groupBy("node").agg(
                F.min("component").alias("component"),
                F.min("__old").alias("__old"),
            ),
            "components", i, where=F.col("component") != F.col("__old"),
        )
        labels = full.select("node", "component")
        if changed == 0:
            release(edges)
            release(start)
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )
