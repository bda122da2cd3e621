"""Streaming incremental triangle counting (streaming/graph.py):
batch/stream parity, multi-edge-per-triangle exactness, restart and
crash-replay idempotence; the re-run-per-window snapshot step with
components, PageRank and k-core as its ``batch_fn``."""

from __future__ import annotations

import json

from pyspark.sql import Row

from kinesis_vcr_spark.operators.triangles import triangles
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.graph import (
    snapshot_step,
    triangle_delta,
    triangle_step,
)


def _edges(spark, pairs):
    return spark.createDataFrame([Row(a=a, b=b) for a, b in pairs])


def _write_chunk(spark, pairs, path):
    _edges(spark, pairs).coalesce(1).write.parquet(path)


# ---------------------------------------------------------------------------
# triangle_delta (the per-batch incremental kernel)
# ---------------------------------------------------------------------------


def test_delta_all_three_edges_in_one_batch(spark):
    old = spark.createDataFrame([], "a long, b long")
    batch = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    row = triangle_delta(batch, old).collect()[0]
    assert (row.new_edges, row.delta) == (3, 1)


def test_delta_closing_edge_against_old(spark):
    old = _edges(spark, [(1, 2), (2, 3)])
    batch = _edges(spark, [(1, 3)])
    row = triangle_delta(batch, old).collect()[0]
    assert (row.new_edges, row.delta) == (1, 1)


def test_delta_two_new_one_old_counted_once(spark):
    old = _edges(spark, [(1, 2)])
    batch = _edges(spark, [(2, 3), (1, 3)])
    row = triangle_delta(batch, old).collect()[0]
    assert (row.new_edges, row.delta) == (2, 1)


def test_delta_no_triangle(spark):
    old = _edges(spark, [(1, 2)])
    batch = _edges(spark, [(3, 4)])
    row = triangle_delta(batch, old).collect()[0]
    assert (row.new_edges, row.delta) == (1, 0)


# ---------------------------------------------------------------------------
# end-to-end stream: parity with the batch operator + restart safety
# ---------------------------------------------------------------------------

# K5 on {0..4} (10 triangles) + a pendant path + one disjoint triangle
GRAPH = (
    [(i, j) for i in range(5) for j in range(i + 1, 5)]
    + [(4, 10), (10, 11)]
    + [(20, 21), (21, 22), (20, 22)]
)


def _batch_count(spark, pairs):
    return triangles(_edges(spark, pairs), "a", "b").count()


def _run_stream(spark, src_dir, state_dir, ckpt_dir):
    q = ingest.start(
        _stream(spark, src_dir), ckpt_dir, state_dir,
        triangle_step(state_dir, src_col="a", dst_col="b"),
    )
    q.awaitTermination(300)
    return q


def _count(state_dir):
    return ingest.read_progress(state_dir)["triangles"]


def _stream(spark, src):
    return (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src + "/*")
    )


def test_stream_matches_batch_and_survives_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # three files → three micro-batches, with triangle edges split
    # across batches AND duplicate/reversed edges re-delivered
    chunks = [GRAPH[:4], GRAPH[4:9], GRAPH[9:] + [(1, 0), (20, 21)]]
    for i, chunk in enumerate(chunks):
        _write_chunk(spark, chunk, f"{src}/f{i}.parquet")

    _run_stream(spark, src, state, ckpt)
    expected = _batch_count(spark, GRAPH)
    assert expected == 11  # C(5,3)·1 + disjoint triangle
    assert _count(state) == expected

    # restart with no new data: counts must not move (replay-safe)
    _run_stream(spark, src, state, ckpt)
    assert _count(state) == expected

    # late file closes new triangles against months-old edges
    _write_chunk(spark, [(10, 11), (4, 11)], f"{src}/f9.parquet")
    _run_stream(spark, src, state, ckpt)
    assert _count(state) == _batch_count(
        spark, GRAPH + [(4, 11)]
    )


def test_progress_file_is_json_with_batch_id(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    _write_chunk(spark, [(1, 2), (2, 3), (1, 3)], f"{src}/f0.parquet")
    _run_stream(spark, src, state, str(tmp_path / "ckpt"))
    with open(f"{state}/progress.json") as f:
        progress = json.load(f)
    assert progress["triangles"] == 1
    assert progress["last_batch_id"] >= 0


def test_triangle_crash_replay_is_idempotent(
    spark, tmp_path, replays_identically
):
    """A committed batch replayed and a half-applied one re-run both
    land the uncrashed run's edge scopes and count: the replay must not
    see its own edges as old (fresh=∅ would lose its triangles)."""
    _, progress = replays_identically(
        tmp_path, triangle_step(f"{tmp_path}/state", src_col="a", dst_col="b"),
        _edges(spark, GRAPH[:6]), _edges(spark, GRAPH[6:] + [(2, 1)]),
    )
    assert progress["triangles"] == _batch_count(spark, GRAPH)


def test_streaming_components_snapshot_matches_batch(spark, tmp_path):
    """Re-run-per-window components: after each drain, labels_path is
    the batch labeling of every edge ever streamed; merges across
    batches relabel correctly and restarts re-emit nothing."""
    from pyspark.sql import functions as F

    from kinesis_vcr_spark.operators.components import connected_components

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    labels = str(tmp_path / "labels")

    # two disjoint chains that a LATER batch merges
    _write_chunk(spark, [(1, 2), (2, 3), (10, 11)], f"{src}/f0.parquet")
    _write_chunk(spark, [(20, 21), (3, 1)], f"{src}/f1.parquet")

    def run():
        q = ingest.start(
            _stream(spark, src), ckpt, state,
            snapshot_step(
                state, labels, src_col="a", dst_col="b",
                batch_fn=lambda e: connected_components(e, "a", "b"),
            ),
        )
        q.awaitTermination(300)

    def snapshot():
        return {
            (r.node, r.component)
            for r in spark.read.parquet(labels).collect()
        }

    run()
    all_edges = _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (3, 1)])
    expected = {
        (r.node, r.component)
        for r in connected_components(all_edges, "a", "b").collect()
    }
    assert snapshot() == expected
    assert {c for _, c in snapshot()} == {1, 10, 20}

    # restart with nothing new: snapshot unchanged
    run()
    assert snapshot() == expected

    # a bridging edge merges two components in the NEXT snapshot
    _write_chunk(spark, [(11, 20)], f"{src}/f9.parquet")
    run()
    got = snapshot()
    assert {c for _, c in got} == {1, 10}
    assert (21, 10) in got


def test_streaming_pagerank_snapshot_matches_batch(spark, tmp_path):
    """The generic snapshot wrapper with a second operator: after each
    drain, ranks_path equals batch pagerank_micro over the undirected
    accumulation of every edge ever streamed (bit-exact — the operator
    is integer-deterministic)."""
    from pyspark.sql import functions as F

    from kinesis_vcr_spark.operators.pagerank import pagerank_micro
    from kinesis_vcr_spark.operators.triangles import _simple_undirected

    def undirected_pagerank(e):
        both = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        return pagerank_micro(both, "a", "b", iterations=10)

    src = str(tmp_path / "src")
    _write_chunk(spark, GRAPH[:6], f"{src}/f0.parquet")
    _write_chunk(spark, GRAPH[6:] + [(2, 1)], f"{src}/f1.parquet")

    state = str(tmp_path / "state")
    q = ingest.start(
        _stream(spark, src), str(tmp_path / "ckpt"), state,
        snapshot_step(
            state, str(tmp_path / "ranks"), src_col="a", dst_col="b",
            batch_fn=undirected_pagerank,
        ),
    )
    q.awaitTermination(300)

    got = {
        (r.node, r.rank_micro)
        for r in spark.read.parquet(str(tmp_path / "ranks")).collect()
    }
    canon = _simple_undirected(_edges(spark, GRAPH), "a", "b")
    expected = {
        (r.node, r.rank_micro)
        for r in undirected_pagerank(canon).collect()
    }
    assert got == expected


def test_streaming_kcore_snapshot_matches_batch(spark, tmp_path):
    """The snapshot wrapper instantiated for the peeling family: after
    a drain, nodes_path equals batch kcore_nodes over every edge ever
    streamed."""
    from kinesis_vcr_spark.operators.kcore import kcore_nodes

    src = str(tmp_path / "src")
    # K5 arrives in two batches plus a pendant tail that peels away
    _write_chunk(spark, GRAPH[:6], f"{src}/f0.parquet")
    _write_chunk(spark, GRAPH[6:], f"{src}/f1.parquet")

    state = str(tmp_path / "state")
    q = ingest.start(
        _stream(spark, src), str(tmp_path / "ckpt"), state,
        snapshot_step(
            state, str(tmp_path / "nodes"), src_col="a", dst_col="b",
            batch_fn=lambda e: kcore_nodes(e, "a", "b", 3),
        ),
    )
    q.awaitTermination(300)

    got = {
        (r.node, r.core_deg)
        for r in spark.read.parquet(str(tmp_path / "nodes")).collect()
    }
    expected = {
        (r.node, r.core_deg)
        for r in kcore_nodes(_edges(spark, GRAPH), "a", "b", 3).collect()
    }
    assert got == expected
    assert {n for n, _ in got} == {0, 1, 2, 3, 4}  # K5 core only
