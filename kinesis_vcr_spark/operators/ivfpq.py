"""IVF-PQ residual index (E93) — the FAISS ``IndexIVFPQ`` shape.

IVF alone (operators/ivf.py) prunes the search to nprobe inverted
lists but still stores and scans full vectors; PQ alone
(operators/pq.py) compresses every vector to m bytes-ish codes but
scans ALL of them per query. Production ANN at corpus scale (Jégou,
Douze, Schmid 2011 §IV; every FAISS deployment) combines them: a
coarse quantizer routes each vector to a list, PQ encodes the
RESIDUAL ``x − c(x)`` (residuals concentrate near 0, so the same
codebook budget quantizes them far better than raw vectors), and a
query scans only its nprobe lists, scoring candidates by ADC table
lookups without ever reconstructing a vector.

Scoring decomposition (all vectors unit-normalized, cosine ≡ inner
product): ``q·x = q·c_list + q·r ≈ q·c_list + Σ_s table[s, code_s]``
where ``table[s] = q_sub_s @ codebook[s].T`` is computed ONCE per
query — the residual codebook is shared across lists (FAISS default),
so the per-list term is a single scalar add.

Determinism discipline (repo-wide): hash-smallest seeds, one
distributed Lloyd step per refinement with values fixed to integer
nano-units before the mean-sum (a double sum's partial-merge order is
partition-dependent), ADC scores rounded to 6 dp — independently
built indexes are bit-comparable and the planted-twin driver query
(queries/similarity.py ``similarity_ivfpq_planted``) carries an EXACT
oracle.

100 TB posture: the index is ``(cid, vec_id, codes)`` — m small ints
per vector, 8-32× smaller than the float lists the plain IVF index
stores; stored partitioned by list id (the ivf.py ``_write_lists``
layout), probes prune to nprobe/k_centroids of the files. Training
collects only centroid/codebook-sized tables; encode is one
Arrow-batched UDF pass; the probe keeps queries
DISTRIBUTED — (query, cid) probes equi-join the code lists and a
scalar vectorized UDF scores each candidate (no driver collect of the
query set, unlike pq_adc_topk's broadcast-probes contract) — and
rides the skew-safe two-phase top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kinesis_vcr_spark.operators.ivf import probe_centroids, train_centroids
from kinesis_vcr_spark.operators.similarity import unit_double
from kinesis_vcr_spark.operators.pq import _encode_batch, _normalize_rows
from kinesis_vcr_spark.operators.topk import topk_per_group


def residual_frame(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, res): nearest-centroid assignment + residual
    ``unit(x) − c_cid`` in ONE Arrow-batched pass (the batch
    materializes both before any downstream explode — the
    HOF-under-Generate discipline from train_pq)."""
    cmat = centroids

    @pandas_udf("struct<cid: int, res: array<double>>")
    def assign_res(vecs: pd.Series) -> pd.DataFrame:
        mat = _normalize_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        cid = np.argmax(mat @ cmat.T, axis=1)
        return pd.DataFrame(
            {"cid": cid.astype(np.int32), "res": list(mat - cmat[cid])}
        )

    return vectors.select(
        F.col(id_col), assign_res(F.col(vec_col)).alias("r")
    ).select(id_col, F.col("r.cid").alias("cid"), F.col("r.res").alias("res"))


def train_residual_pq(
    residuals: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    res_col: str = "res",
    refine_iterations: int = 1,
) -> np.ndarray:
    """Deterministic (m × ksub × d/m) codebook over RESIDUAL vectors.

    Same recipe as pq.train_pq but WITHOUT unit normalization —
    residuals are small non-unit vectors by construction and
    normalizing them would erase exactly the magnitude information PQ
    is here to keep. Seeds are the residuals of the ksub hash-smallest
    ids; each Lloyd step is one encode pass + one posexplode →
    groupBy((sub, code, dim)) mean whose values are nano-fixed before
    summing (pq.py's float-determinism discipline)."""
    seeds = (
        residuals.select(F.col(res_col), F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(ksub)
        .collect()
    )
    seed_mat = np.array([list(r[res_col]) for r in seeds], dtype=np.float64)
    d = seed_mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    codebook = np.stack(
        [seed_mat[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )

    def make_encoder(cb_state: np.ndarray):
        @pandas_udf("array<int>")
        def enc(vecs: pd.Series) -> pd.Series:
            mat = np.vstack(vecs.to_numpy()).astype(np.float64)
            return pd.Series(list(_encode_batch(mat, cb_state)))

        return enc

    for _ in range(refine_iterations):
        enc = make_encoder(codebook)
        coded = residuals.select(
            F.col(res_col).alias("u"), enc(F.col(res_col)).alias("codes")
        )
        means = (
            coded.select(F.posexplode("u").alias("dim", "val"), "codes")
            .select(
                (F.col("dim") / dsub).cast("int").alias("sub"),
                (F.col("dim") % dsub).alias("dim_in"),
                F.element_at("codes", (F.col("dim") / dsub).cast("int") + 1)
                .alias("code"),
                "val",
            )
            .groupBy("sub", "code", "dim_in")
            .agg(
                F.sum(
                    F.round(F.col("val") * F.lit(1e9)).cast("long")
                ).alias("s_nano"),
                F.count("*").alias("cnt"),
            )
            .collect()
        )
        new = codebook.copy()
        for r in means:
            new[r["sub"], r["code"], r["dim_in"]] = r["s_nano"] / (
                r["cnt"] * 1e9
            )
        codebook = new
    return codebook


def ivfpq_encode_table(
    vectors: DataFrame,
    centroids: np.ndarray,
    codebook: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, codes) — the IVF-PQ index table: list
    assignment + residual PQ codes in one Arrow pass."""
    cmat = centroids
    cb = codebook

    @pandas_udf("struct<cid: int, codes: array<int>>")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        mat = _normalize_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        cid = np.argmax(mat @ cmat.T, axis=1)
        codes = _encode_batch(mat - cmat[cid], cb)
        return pd.DataFrame({"cid": cid.astype(np.int32), "codes": list(codes)})

    return vectors.select(
        F.col(id_col), enc(F.col(vec_col)).alias("r")
    ).select(id_col, F.col("r.cid").alias("cid"), F.col("r.codes").alias("codes"))


def build_ivfpq(
    vectors: DataFrame,
    k_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """(centroids, residual codebook, codes table) — train the coarse
    quantizer, train PQ on its residuals, encode the corpus."""
    centroids = train_centroids(
        vectors, k_centroids, id_col, vec_col,
        refine_iterations=refine_iterations,
    )
    res = residual_frame(vectors, centroids, id_col, vec_col)
    codebook = train_residual_pq(
        res, m=m, ksub=ksub, id_col=id_col,
        refine_iterations=refine_iterations,
    )
    return centroids, codebook, ivfpq_encode_table(
        vectors, centroids, codebook, id_col, vec_col
    )


def adc_similarity(
    query_unit_col, cid_col, codes_col,
    centroids: np.ndarray, codebook: np.ndarray,
):
    """Vectorized ADC score column for joined (query, candidate) rows:
    ``q·c_cid + Σ_s q_sub_s · codebook[s][code_s]`` per row, one numpy
    gather + two dot-sums per Arrow batch — no per-row Python, no
    reconstruction. 6-dp rounded (engine-portable float discipline)."""
    cmat = centroids
    cb = codebook
    m, ksub, dsub = codebook.shape

    @pandas_udf("double")
    def adc(qv: pd.Series, cid: pd.Series, codes: pd.Series) -> pd.Series:
        qm = np.vstack(qv.to_numpy()).astype(np.float64)  # n × d (unit)
        cids = cid.to_numpy().astype(np.int64)
        cm = np.vstack(codes.to_numpy()).astype(np.int64)  # n × m
        coarse = (qm * cmat[cids]).sum(axis=1)
        gathered = np.stack(
            [cb[s][cm[:, s]] for s in range(m)], axis=1
        )  # n × m × dsub
        res = (qm.reshape(len(qm), m, dsub) * gathered).sum(axis=(1, 2))
        return pd.Series(np.round(coarse + res, 6))

    return adc(query_unit_col, cid_col, codes_col)


def ivfpq_topk(
    codes: DataFrame,
    centroids: np.ndarray,
    codebook: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank_vectors: DataFrame | None = None,
    shortlist: int | None = None,
    rerank_vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k over the IVF-PQ index: each query scans ONLY
    its nprobe nearest lists. Returns (query_id, vec_id, adc_sim) on
    the skew-safe two-phase top-k.

    **Exact re-rank** (``rerank_vectors`` — the FAISS-refine second
    stage, same contract as ``pq.pq_adc_topk``): ADC keeps a
    per-query shortlist of ``shortlist`` candidates (default
    ``max(4·k, 50)``), their ORIGINAL vectors are fetched with one
    narrow nq·R id join, and the output (query_id, vec_id, cosine,
    rank) is the exact-cosine ordering within the shortlist — the fix
    for residual-ADC's strict-recall collapse on tight clusters
    (BASELINE r11 addendum 1).

    Plan shape — and the deliberate divergence from pq_adc_topk's
    broadcast-probes contract: queries stay DISTRIBUTED. Each query
    row explodes to its nprobe (query, cid) probes; an equi-join on
    ``cid`` against the codes table forms exactly the candidate set
    (Θ(nq · n · nprobe/k_centroids) rows — the work ADC inherently
    does); one scalar vectorized UDF scores each candidate. No driver
    collect of the query set, no per-row Python object building — the
    first cut of this operator emitted an array<struct> of all visible
    queries per candidate row from inside the UDF and measured 16.7×
    at 10× data on the planted fixture (whose probe set grows with the
    corpus); this join shape is the fix. The stored side is
    pre-filtered to the union of probed lists (a ≤ k_centroids-sized
    collect) so a codes table stored partitioned by ``cid`` scans only
    the probed partition dirs."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        unit_double(F.col(query_vec_col)).alias("__q_unit"),
        F.explode(
            probe_centroids(F.col(query_vec_col), centroids, nprobe)
        ).alias("cid"),
    )
    probed = sorted(
        r["cid"] for r in q.select("cid").distinct().collect()
    )  # ≤ k_centroids values — partition pruning for stored lists
    if not probed:
        raise ValueError("ivfpq_topk: queries DataFrame is empty")
    cand = q.join(codes.where(F.col("cid").isin(probed)), "cid")
    scored = cand.select(
        "query_id",
        id_col,
        adc_similarity(
            F.col("__q_unit"), F.col("cid"), F.col("codes"),
            centroids, codebook,
        ).alias("adc_sim"),
    )
    if rerank_vectors is None:
        return topk_per_group(
            scored,
            key_cols=["query_id"],
            order_by=[F.col("adc_sim").desc(), F.col(id_col)],
            k=k,
            rank_col="rank",
        )
    from kinesis_vcr_spark.operators.similarity import (  # noqa: PLC0415
        exact_rerank_topk,
    )

    r = shortlist if shortlist is not None else max(4 * k, 50)
    short = topk_per_group(
        scored,
        key_cols=["query_id"],
        order_by=[F.col("adc_sim").desc(), F.col(id_col)],
        k=r,
    ).select(F.col("query_id").alias(query_id_col), id_col)
    return exact_rerank_topk(
        short,
        rerank_vectors,
        queries,
        k=k,
        id_col=id_col,
        vec_col=rerank_vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        exclude_self=exclude_self,
    )
