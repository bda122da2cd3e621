"""Streaming ANN ingest over the persisted IVF index
(streaming/annstream.py): per-batch emissions == prefix-index probes
with the frozen first-batch centroids, crash-replay idempotence,
state compaction parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.ivf import (
    append_ivf_index,
    build_ivf_index,
    ivf_topk_indexed,
    load_ivf_index,
)
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.annstream import ann_step, compact_ann_state
from kinesis_vcr_spark.tables import load_table

KW = dict(k=5, nprobe=3, k_centroids=8)


def _probe_rows(df):
    return {
        (r["query_id"], r["vec_id"], round(r["cosine"], 9), r["rank"])
        for r in df.collect()
    }


def test_streaming_ann_matches_prefix_probes(spark, sf_dir, tmp_path):
    """Three micro-batches of the embeddings fixture: each batch's
    emitted scope must equal an ivf_topk_indexed probe of a
    batch-built reference index holding exactly the batches applied so
    far, with the same (first-batch-trained, frozen) centroids."""
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        vecs.where(F.pmod("vec_id", F.lit(3)) == i).coalesce(1).write.parquet(
            f"{src}/f{i}.parquet"
        )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    results = str(tmp_path / "results")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = ingest.start(stream, ckpt, state, ann_step(state, results, **KW))
    q.awaitTermination(600)

    progress = ingest.read_progress(state)
    assert progress["vecs_indexed"] == vecs.count()
    assert progress["last_batch_id"] == 2

    # recover each batch's membership from its own results scope (the
    # file->trigger order is an implementation detail), then rebuild
    # the reference prefix indexes batch by batch
    batches = []
    for i in range(3):
        ids = {
            r["query_id"]
            for r in spark.read.parquet(f"{results}/ingest=b{i}")
            .select("query_id")
            .distinct()
            .collect()
        }
        assert ids, f"batch {i} emitted no results"
        batches.append(vecs.where(F.col("vec_id").isin(list(ids))))

    ref_path = str(tmp_path / "ref_index")
    total_emitted = 0
    for i in range(3):
        if i == 0:
            build_ivf_index(
                batches[0], ref_path, k_centroids=KW["k_centroids"]
            )
        else:
            append_ivf_index(batches[i], ref_path, ingest_label=f"b{i}")
        expected = _probe_rows(
            ivf_topk_indexed(
                load_ivf_index(spark, ref_path),
                batches[i].select(
                    F.col("vec_id").alias("query_id"), "embedding"
                ),
                k=KW["k"],
                nprobe=KW["nprobe"],
                query_id_col="query_id",
            )
        )
        got = _probe_rows(spark.read.parquet(f"{results}/ingest=b{i}"))
        assert got == expected, f"batch {i} diverged from prefix probe"
        total_emitted += len(expected)
    assert progress["results_emitted"] == total_emitted

    # restart with no new data: no re-emission, index unchanged
    stream2 = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q2 = ingest.start(stream2, ckpt, state, ann_step(state, results, **KW))
    q2.awaitTermination(600)
    assert ingest.read_progress(state)["results_emitted"] == total_emitted

    # compaction: probe results identical before/after the scope swap
    probe_q = vecs.limit(20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    before = _probe_rows(
        ivf_topk_indexed(
            load_ivf_index(spark, f"{state}/index"), probe_q,
            k=KW["k"], nprobe=KW["nprobe"], query_id_col="query_id",
        )
    )
    compact_ann_state(spark, state, results)
    after = _probe_rows(
        ivf_topk_indexed(
            load_ivf_index(spark, f"{state}/index"), probe_q,
            k=KW["k"], nprobe=KW["nprobe"], query_id_col="query_id",
        )
    )
    assert after == before
    # results sink content preserved across compaction
    assert (
        spark.read.parquet(results).count() == total_emitted
    )


def test_crash_replay_is_idempotent(spark, sf_dir, tmp_path):
    """A batch replayed after a simulated crash (all writes done, the
    progress bump lost) must regenerate identical index and results
    bytes — no duplicated vectors, no duplicated result rows."""
    import json

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    b0 = vecs.where(F.col("vec_id") % 2 == 0)
    b1 = vecs.where(F.col("vec_id") % 2 == 1)
    state = str(tmp_path / "state")
    results = str(tmp_path / "results")

    ingest.apply(b0, 0, state, ann_step(state, results, **KW))
    ingest.apply(b1, 1, state, ann_step(state, results, **KW))
    idx_count = spark.read.parquet(f"{state}/index/lists").count()
    assert idx_count == vecs.count()
    res1 = _probe_rows(spark.read.parquet(f"{results}/ingest=b1"))
    progress1 = ingest.read_progress(state)

    # crash-replay batch 1: progress bump lost, everything else done
    from kinesis_vcr_spark import statefs

    p = f"{state}/progress.json"
    saved = statefs.read_json_state(spark, p, {})
    saved["last_batch_id"] = 0
    saved["results_emitted"] -= len(res1)
    saved["vecs_indexed"] -= b1.count()
    statefs.write_json_state(spark, p, saved)
    ingest.apply(b1, 1, state, ann_step(state, results, **KW))

    assert spark.read.parquet(f"{state}/index/lists").count() == idx_count
    assert _probe_rows(spark.read.parquet(f"{results}/ingest=b1")) == res1
    assert ingest.read_progress(state) == progress1

    # crash-replay batch 0 (first batch): must REBUILD, not append a
    # second copy of the batch under a b0 scope
    statefs.write_json_state(
        spark, p,
        {"last_batch_id": -1, "results_emitted": 0, "vecs_indexed": 0},
    )
    ingest.apply(b0, 0, state, ann_step(state, results, **KW))
    assert (
        spark.read.parquet(f"{state}/index/lists").count() == b0.count()
    )
