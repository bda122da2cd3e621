"""IVF-PQ probes (operators/ivfpq.py) over a codes table stored
partitioned by list id: the partition-pruning plan pin and the exact
re-rank contract."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.ivfpq import build_ivfpq, ivfpq_topk

DIM = 32


def _unit(v):
    return v / np.linalg.norm(v)


def _vectors(n, seed=7, start_id=0):
    rng = np.random.default_rng(seed)
    centers = [_unit(rng.normal(0, 1, DIM)) for _ in range(8)]
    return [
        Row(
            vec_id=start_id + i,
            embedding=[
                float(x)
                for x in _unit(centers[i % 8] + rng.normal(0, 0.05, DIM))
            ],
        )
        for i in range(n)
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(_vectors(96)).coalesce(2).cache()
    df.count()
    yield df
    df.unpersist()


def _probes(df, n=5):
    return df.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _stored(spark, corpus, path):
    """(centroids, codebook, codes read back from parquet partitioned
    by ``cid``)."""
    centroids, codebook, codes = build_ivfpq(corpus, k_centroids=8, m=8, ksub=16)
    codes.write.partitionBy("cid").parquet(path)
    return centroids, codebook, spark.read.parquet(path)


def test_probe_prunes_to_probed_partitions(spark, corpus, tmp_path):
    """The cid isin(probed) filter must reach the scan as a partition
    filter — the probe reads nprobe/k_centroids of the files, which is
    the IVF half of the index's 100 TB story."""
    centroids, codebook, lists = _stored(spark, corpus, str(tmp_path / "idx"))
    res = ivfpq_topk(lists, centroids, codebook, _probes(corpus, n=1),
                     k=5, nprobe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines, plan
    # non-empty filter list naming the partition column — an empty
    # "PartitionFilters: []" would mean the probe scans every list
    assert any("PartitionFilters: [ci" in ln for ln in pf_lines), pf_lines


def test_stored_rerank_equals_exact_within_probed_lists(spark, corpus, tmp_path):
    """A probe with rerank_vectors= over the stored codes must return
    the exact-cosine ordering of its shortlist — equal to cosine_topk
    restricted to the probed lists' members when the shortlist covers
    them (here: shortlist = corpus size, nprobe = all lists)."""
    from kinesis_vcr_spark.operators.similarity import cosine_topk

    centroids, codebook, lists = _stored(spark, corpus, str(tmp_path / "idx_rr"))
    got = {
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"])
        for r in ivfpq_topk(
            lists, centroids, codebook, _probes(corpus),
            k=5, nprobe=8, rerank_vectors=corpus, shortlist=96,
            exclude_self=True,
        ).collect()
    }
    want = {
        (r["query_id"], r["vec_id"], r["cosine"], r["rank"])
        for r in cosine_topk(corpus, _probes(corpus), k=5).collect()
    }
    assert got == want
