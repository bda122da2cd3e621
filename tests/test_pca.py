"""operators/pca.py — distributed covariance / PCA.

Exactness contract: both Gram paths (Catalyst explode vs Arrow/BLAS
partials) produce IDENTICAL integers regardless of partitioning, and
the covariance matches numpy's on the collected data.
"""

from __future__ import annotations

import numpy as np
import pytest

from kinesis_vcr_spark.operators.pca import (
    DEFAULT_SCALE,
    component_sums,
    covariance_long,
    covariance_topk,
    gramian_long,
    gramian_partial_pandas,
    quantize_embeddings,
)
from kinesis_vcr_spark.tables import load_table

DIM = 64


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.orderBy("vec_id").collect()
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def test_quantize_matches_numpy_rounding(spark, emb, emb_np):
    q = quantize_embeddings(emb).orderBy("vec_id").collect()
    got = np.array([r["q"] for r in q], dtype=np.int64)
    # round-half-away-from-zero, same as Spark's round(x, 0)
    want = np.sign(emb_np) * np.floor(np.abs(emb_np) * DEFAULT_SCALE + 0.5)
    assert np.array_equal(got, want.astype(np.int64))


def test_gramian_paths_identical_and_partition_invariant(spark, emb):
    q = quantize_embeddings(emb).select("q")
    a = {(r["i"], r["j"]): r["s_ij"] for r in gramian_long(q, "q", DIM).collect()}
    b = {
        (r["i"], r["j"]): r["s_ij"]
        for r in gramian_partial_pandas(q, "q", DIM).collect()
    }
    c = {
        (r["i"], r["j"]): r["s_ij"]
        for r in gramian_partial_pandas(q.repartition(7), "q", DIM).collect()
    }
    assert a == b == c
    assert len(a) == DIM * (DIM + 1) // 2


def test_gramian_matches_numpy_exact(spark, emb, emb_np):
    q_np = (
        np.sign(emb_np) * np.floor(np.abs(emb_np) * DEFAULT_SCALE + 0.5)
    ).astype(np.int64)
    want = q_np.T @ q_np
    got = gramian_partial_pandas(
        quantize_embeddings(emb).select("q"), "q", DIM
    ).collect()
    for r in got:
        assert r["s_ij"] == want[r["i"] - 1, r["j"] - 1]


def test_component_sums_exact(spark, emb, emb_np):
    q_np = (
        np.sign(emb_np) * np.floor(np.abs(emb_np) * DEFAULT_SCALE + 0.5)
    ).astype(np.int64)
    rows = component_sums(
        quantize_embeddings(emb).select("q"), "q", DIM
    ).collect()
    assert len(rows) == DIM
    for r in rows:
        assert r["s"] == q_np[:, r["i"] - 1].sum()
        assert r["n"] == q_np.shape[0]


def test_covariance_matches_numpy_population_cov(spark, emb, emb_np):
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in covariance_long(emb, "embedding", DIM).collect()
    }
    q_np = (
        np.sign(emb_np) * np.floor(np.abs(emb_np) * DEFAULT_SCALE + 0.5)
    ).astype(np.int64)
    x = q_np / DEFAULT_SCALE
    want = np.cov(x, rowvar=False, bias=True)
    for (i, j), v in got.items():
        assert v == pytest.approx(want[i - 1, j - 1], abs=1e-12)


def test_covariance_topk_deterministic_order(spark, emb):
    a = [(r["i"], r["j"], r["cov"]) for r in covariance_topk(emb).collect()]
    b = [
        (r["i"], r["j"], r["cov"])
        for r in covariance_topk(emb, use_pandas=False).collect()
    ]
    assert a == b
    assert len(a) == 15
    assert all(i < j for i, j, _ in a)
    mags = [abs(c) for _, _, c in a]
    assert mags == sorted(mags, reverse=True)


def test_gramian_long_overflow_guard():
    with pytest.raises(ValueError, match="int64 budget"):
        gramian_long(None, "q", DIM, max_rows_hint=10**10)


def test_oracle_row_matches_duckdb(spark, sf_dir):
    duckdb = pytest.importorskip("duckdb")
    from kinesis_vcr_spark.queries.similarity import (
        EMBEDDING_COVARIANCE_SQL,
        embedding_covariance_topk,
    )

    got = [
        (r["i"], r["j"], r["cov"])
        for r in embedding_covariance_topk(spark, sf_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = [(int(i), int(j), float(c)) for i, j, c in con.execute(
        EMBEDDING_COVARIANCE_SQL
    ).fetchall()]
    assert got == want
