"""Streaming incremental triangle counting (streaming/graph.py):
batch/stream parity, multi-edge-per-triangle exactness, restart
idempotence."""

from __future__ import annotations

import json

from pyspark.sql import Row

from kinesis_vcr_spark.operators.triangles import triangles
from kinesis_vcr_spark.streaming.graph import (
    read_triangle_count,
    streaming_triangle_count,
    triangle_delta,
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
    stream = (
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src_dir + "/*")
    )
    q = streaming_triangle_count(
        stream, "a", "b", state_dir, ckpt_dir
    )
    q.awaitTermination(300)
    return q


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
    assert read_triangle_count(state) == expected

    # restart with no new data: counts must not move (replay-safe)
    _run_stream(spark, src, state, ckpt)
    assert read_triangle_count(state) == expected

    # late file closes new triangles against months-old edges
    _write_chunk(spark, [(10, 11), (4, 11)], f"{src}/f9.parquet")
    _run_stream(spark, src, state, ckpt)
    assert read_triangle_count(state) == _batch_count(
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


def test_streaming_components_snapshot_matches_batch(spark, tmp_path):
    """Re-run-per-window components: after each drain, labels_path is
    the batch labeling of every edge ever streamed; merges across
    batches relabel correctly and restarts re-emit nothing."""
    from pyspark.sql import functions as F

    from kinesis_vcr_spark.operators.components import connected_components
    from kinesis_vcr_spark.streaming.graph import (
        streaming_connected_components,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    labels = str(tmp_path / "labels")

    # two disjoint chains that a LATER batch merges
    _write_chunk(spark, [(1, 2), (2, 3), (10, 11)], f"{src}/f0.parquet")
    _write_chunk(spark, [(20, 21), (3, 1)], f"{src}/f1.parquet")

    def run():
        stream = (
            spark.readStream.schema("a long, b long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = streaming_connected_components(
            stream, "a", "b", state, ckpt, labels
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
    from kinesis_vcr_spark.streaming.graph import streaming_pagerank

    src = str(tmp_path / "src")
    _write_chunk(spark, GRAPH[:6], f"{src}/f0.parquet")
    _write_chunk(spark, GRAPH[6:] + [(2, 1)], f"{src}/f1.parquet")

    q = streaming_pagerank(
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*"),
        "a", "b",
        str(tmp_path / "state"), str(tmp_path / "ckpt"),
        str(tmp_path / "ranks"),
    )
    q.awaitTermination(300)

    got = {
        (r.node, r.rank_micro)
        for r in spark.read.parquet(str(tmp_path / "ranks")).collect()
    }
    canon = _simple_undirected(_edges(spark, GRAPH), "a", "b")
    both = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    expected = {
        (r.node, r.rank_micro)
        for r in pagerank_micro(both, "a", "b", iterations=10).collect()
    }
    assert got == expected


def test_streaming_kcore_snapshot_matches_batch(spark, tmp_path):
    """The snapshot wrapper instantiated for the peeling family: after
    a drain, nodes_path equals batch kcore_nodes over every edge ever
    streamed."""
    from kinesis_vcr_spark.operators.kcore import kcore_nodes
    from kinesis_vcr_spark.streaming.graph import streaming_kcore

    src = str(tmp_path / "src")
    # K5 arrives in two batches plus a pendant tail that peels away
    _write_chunk(spark, GRAPH[:6], f"{src}/f0.parquet")
    _write_chunk(spark, GRAPH[6:], f"{src}/f1.parquet")

    q = streaming_kcore(
        spark.readStream.schema("a long, b long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*"),
        "a", "b",
        str(tmp_path / "state"), str(tmp_path / "ckpt"),
        str(tmp_path / "nodes"), k=3,
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
