"""Streaming graph maintenance — incremental triangle counting over an
edge stream.

Closes the batch/stream parity gap for the graph family (VERDICT r05
item 8): components / PageRank / BFS / triangles were batch-only while
the sketch operators already had pinned streaming twins. Triangle
counting is the one with a genuinely incremental formulation, so it
gets the real streaming operator; for the ITERATIVE graph ops
(components, PageRank, BFS, k-core) the honest Structured Streaming
answer is re-run-per-window — their fixpoints are not incrementally
maintainable with bounded per-key state (a single far-away edge can
relabel an entire component), so :func:`snapshot_step` runs the batch
operator, given as its ``batch_fn``, over the accumulated edge table
the triangle step also keeps, paying one batch run per trigger. That
guidance is part of the module contract, mirroring E31's batch/stream
parity note.

Why ``foreachBatch`` and not ``applyInPandasWithState``: a triangle's
three nodes land in three different state groups, and closing an edge
``(u, v)`` needs both endpoints' adjacency — cross-group reads that
per-key state cannot express without replicating the whole graph into
every group. The Spark-idiomatic shape is micro-batch incremental view
maintenance: keep the accumulated simple edge set as a parquet state
table, and per micro-batch compute the DELTA of triangles closed by
the new edges with three hash equi-joins (never a re-count of the old
graph's triangles, never all-pairs).

Exactness: each new triangle must be counted ONCE even when 2 or 3 of
its edges arrive in the same micro-batch. Every new edge gets a unique
rank (row_number over the canonical edge order; accumulated old edges
rank −1), and a triangle is credited only to its HIGHEST-ranked new
edge: for new edge ``(u, v)`` with rank r, count nodes ``w`` where
both ``(u, w)`` and ``(v, w)`` exist with rank < r. Deterministic and
integer-only, so a replayed batch recomputes the identical delta.

Scale posture: per trigger the work is |batch| joined twice against
the accumulated edge table on node keys — proportional to the batch's
wedge count, not to the graph's triangle count; the state table is the
canonical edge list (the minimum any exact maintenance must retain),
appended per batch, partition-pruned by nothing but compactable
offline. Degree-skew note: unlike the batch operator's degree
orientation, delta joins key on the new edge's endpoints; a hub
endpoint concentrates its delta work, which AQE skew-join splitting
handles (the per-batch join is sized by the batch, not the graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_vcr_spark import cacheutil, statefs
from kinesis_vcr_spark.operators.triangles import _simple_undirected
from kinesis_vcr_spark.streaming import ingest

def _read_edges(spark, edges_path: str, exclude_label: str | None = None):
    """The accumulated canonical edge table ``(a, b)``, or None before
    any batch committed; ``exclude_label`` drops the replaying batch's
    own scope."""
    edges = statefs.read_scopes(spark, edges_path, exclude_label)
    return None if edges is None else edges.select("a", "b")


def triangle_delta(batch: DataFrame, old: DataFrame) -> DataFrame:
    """One-row frame ``(new_edges, delta)``: how many triangles the
    (already canonical, already old-deduped) ``batch`` edges close
    against ``old ∪ batch``. Pure DataFrame ops — usable standalone
    for batch-incremental pipelines as well as from the stream."""
    # global window = one ranking task, sized by the MICRO-BATCH (not
    # the graph) — the bounded-trigger analogue of the batch operator's
    # driver-side degree collect
    ranked = batch.withColumn(
        "r", F.row_number().over(Window.orderBy("a", "b"))
    )
    all_edges = old.select("a", "b", F.lit(-1).alias("r")).unionByName(
        ranked
    )
    # adjacency view: every edge as (node, nbr, rank), both directions
    adj = all_edges.select(
        F.col("a").alias("n"), F.col("b").alias("w"), "r"
    ).unionByName(
        all_edges.select(
            F.col("b").alias("n"), F.col("a").alias("w"), "r"
        )
    )
    au = adj.select(
        F.col("n").alias("a"), F.col("w"), F.col("r").alias("r_u")
    )
    av = adj.select(
        F.col("n").alias("b"), F.col("w"), F.col("r").alias("r_v")
    )
    tri = (
        ranked.join(au, "a")
        .where(F.col("r_u") < F.col("r"))
        .join(av, ["b", "w"])
        .where(F.col("r_v") < F.col("r"))
    )
    return ranked.agg(F.count(F.lit(1)).alias("new_edges")).crossJoin(
        tri.agg(F.count(F.lit(1)).alias("delta"))
    )


def triangle_step(state_dir: str, *, src_col: str, dst_col: str):
    """Maintain the exact global triangle count over an edge stream:
    each batch's new canonical edges append to ``{state_dir}/edges``
    and the counter ``triangles`` grows by the triangles they close.
    After a drain, ``ingest.read_progress(state_dir)["triangles"]``
    equals ``operators.triangles.triangle_counts``' global count over
    every edge ever streamed (batch/stream parity, pinned in
    tests/test_streaming_graph.py)."""
    edges_path = f"{state_dir}/edges"

    def step(batch_df, label, progress):
        spark = batch_df.sparkSession
        canon = _simple_undirected(batch_df, src_col, dst_col)
        # a crash after the edge write but before the progress bump
        # replays the batch, which must NOT see its own half-committed
        # edges in `old` — it would compute fresh=∅, delta=0, and
        # silently lose the batch's triangles forever. Excluding the
        # scope makes the replayed delta bit-identical to the lost one.
        old = _read_edges(spark, edges_path, exclude_label=label)
        if old is None:
            old = spark.createDataFrame([], canon.schema)
            fresh = canon
        else:
            fresh = canon.join(old, ["a", "b"], "left_anti")
        # one pass computes the delta AND materializes the new edges
        fresh = cacheutil.hold("triangle_step", fresh)
        try:
            row = triangle_delta(fresh, old).collect()[0]
            ingest.write_scope(fresh, edges_path, label)
        finally:
            cacheutil.release(fresh)
        return {"triangles": row["delta"]}

    return step


def compact_edge_state(spark, state_dir: str, target_files: int = 1) -> None:
    """Collapse the per-batch ``ingest=b{id}`` edge scopes into one
    compacted scope (run against a DRAINED stream — see
    :func:`~kinesis_vcr_spark.operators.compaction.compact_scoped_state`
    for the swap contract). The maintained count and every later
    trigger/snapshot are unaffected: deltas only ever read edge
    CONTENT, and the progress watermark lives in progress.json, not in
    the scope names."""
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    compact_scoped_state(
        spark, f"{state_dir}/edges", target_files=target_files
    )


def snapshot_step(
    state_dir: str, out_path: str, *, src_col: str, dst_col: str, batch_fn
):
    """The GENERIC re-run-per-window step for the iterative graph ops
    (the module-docstring guidance as executable code): per
    micro-batch, fold the new edges into the accumulated canonical
    edge table (same state layout as :func:`triangle_step`) and re-run
    ``batch_fn(edges_df) -> DataFrame`` — any batch graph operator over
    canonical ``(a, b)`` edges: components, PageRank, BFS, k-core, … —
    overwriting ``out_path`` with the CURRENT snapshot.

    This is honest about the asymptotics: these operators' fixpoints
    are not boundedly-incremental (one edge can relabel an entire
    component or shift every rank), so each trigger pays one batch run
    over the accumulated graph — the right trade when triggers are
    minutes apart and the graph fits the batch operator's envelope.
    After a drain, ``out_path`` equals ``batch_fn`` over every edge
    ever streamed (test-pinned for components, k-core and PageRank);
    the overwrite means a replayed batch regenerates the identical
    snapshot. The accumulated edges are UNDIRECTED: an operator that
    reads direction (PageRank) sees each stored edge once, so a
    ``batch_fn`` that wants the undirected graph unions both
    directions. Use a DEDICATED ``state_dir`` per streaming query —
    the batch-id watermark is per-query state, so sharing one edge
    store across queries would cross their replay accounting. The
    step bumps no counter.
    """
    edges_path = f"{state_dir}/edges"

    def step(batch_df, label, progress):
        spark = batch_df.sparkSession
        canon = _simple_undirected(batch_df, src_col, dst_col)
        old = _read_edges(spark, edges_path, exclude_label=label)
        fresh = (
            canon if old is None else canon.join(old, ["a", "b"], "left_anti")
        )
        ingest.write_scope(fresh, edges_path, label)
        all_edges = _read_edges(spark, edges_path)
        batch_fn(all_edges).write.mode("overwrite").parquet(out_path)
        return {}

    return step
