"""IVF ANN: deterministic index build, recall vs brute force,
exactness at nprobe = k_centroids."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.ivf import ivf_topk, train_centroids
from kinesis_vcr_spark.operators.similarity import cosine_topk
from kinesis_vcr_spark.tables import load_table


def _probes(emb, n=5):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_centroids_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    c1 = train_centroids(emb, k=8)
    c2 = train_centroids(emb, k=8)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)
    # unit rows
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """nprobe = k_centroids probes every list ⇒ identical to brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, _probes(emb), k=5).collect()
    full = ivf_topk(
        emb, _probes(emb), k=5, k_centroids=4, nprobe=4
    ).collect()
    assert {(r["query_id"], r["vec_id"], r["cosine"], r["rank"]) for r in exact} == {
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"]) for r in full
    }


def test_ivf_partial_probe_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r["query_id"], r["vec_id"])
             for r in cosine_topk(emb, _probes(emb), k=5).collect()}
    approx = ivf_topk(
        emb, _probes(emb), k=5, k_centroids=8, nprobe=4
    ).collect()
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(exact & approx_set) / len(exact) >= 0.4
    # candidates are exactly ranked: cosines match brute force where found
    exact_cos = {(r["query_id"], r["vec_id"]): r["cosine"]
                 for r in cosine_topk(emb, _probes(emb), k=500,
                                      exclude_self=True).collect()}
    for r in approx:
        assert r["cosine"] == exact_cos[(r["query_id"], r["vec_id"])]


def test_persisted_index_matches_live_search(spark, tmp_path):
    """build_ivf_index → load_ivf_index → ivf_topk_indexed must return
    exactly what ivf_topk returns with the same centroids (assignment is
    deterministic given the centroid matrix)."""
    from kinesis_vcr_spark.operators.ivf import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        load_ivf_index,
    )
    from kinesis_vcr_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    probes = emb.limit(4).select(
        emb.vec_id.alias("query_id"), "embedding"
    )

    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, path, k_centroids=8)
    index = load_ivf_index(spark, path)

    live = ivf_topk(
        emb, probes, k=5, k_centroids=8, nprobe=3, centroids=index[0]
    )
    persisted = ivf_topk_indexed(index, probes, k=5, nprobe=3)
    assert sorted(map(tuple, live.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, persisted.collect()), key=lambda t: (t[0], t[3]))


def test_append_ivf_index_matches_rebuild(spark, tmp_path):
    """append_ivf_index (frozen centroids, O(batch)) must be
    indistinguishable from rebuilding the lists over old ∪ new with the
    same centroids — across two appends, idempotent labeled re-runs,
    and search results."""
    from kinesis_vcr_spark.operators.ivf import (
        append_ivf_index,
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        load_ivf_index,
    )
    from kinesis_vcr_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    old = emb.where(F.col("vec_id") % 3 != 0)
    b1 = emb.where(F.col("vec_id") % 6 == 0)
    b2 = emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 6 != 0))

    path = str(tmp_path / "ivf_index")
    build_ivf_index(old, path, k_centroids=8)
    append_ivf_index(b1, path, ingest_label="day1")
    append_ivf_index(b2, path, ingest_label="day2")
    # replayed orchestrator: same label re-run must not duplicate rows
    append_ivf_index(b2, path, ingest_label="day2")

    index = load_ivf_index(spark, path)
    assert index[1].count() == emb.count()

    probes = emb.limit(4).select(emb.vec_id.alias("query_id"), "embedding")
    live = ivf_topk(
        emb, probes, k=5, k_centroids=8, nprobe=3, centroids=index[0]
    )
    persisted = ivf_topk_indexed(index, probes, k=5, nprobe=3)
    assert sorted(map(tuple, live.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, persisted.collect()), key=lambda t: (t[0], t[3]))
