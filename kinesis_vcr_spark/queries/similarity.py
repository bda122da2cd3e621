"""Similarity-search queries over ``embeddings`` — the oracle-checkable
surface of :mod:`kinesis_vcr_spark.operators.similarity`.

The brute-force top-k has an exact DuckDB oracle (same sequential-fold
double arithmetic, same 6-dp rounding, same (cosine desc, vec_id)
tie-break). The ANN variant is approximate by design → registered
without an oracle (driver records rows-only); its recall against the
brute-force baseline is asserted in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold
from kinesis_vcr_spark.operators.similarity import ann_topk, cosine_topk
from kinesis_vcr_spark.queries import QuerySpec, register
from kinesis_vcr_spark.tables import load_table

N_QUERIES = 8  # vec_id < 8 are the probe set
TOP_K = 5


def _probe_set(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 8 probe vectors against the full table."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb, _probe_set(emb), k=TOP_K
    ).orderBy("query_id", "rank")


COSINE_TOPK_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, e,
         sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), u AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS un FROM n
), scored AS (
  SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
         round(list_reduce(list_transform(range(1, 65),
                   i -> q.un[i] * v.un[i]), (x, y) -> x + y), 6) AS cosine
  FROM u q JOIN u v ON q.vec_id < {N_QUERIES} AND v.vec_id != q.vec_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


def similarity_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5 for the same probe set (approximate —
    rows-only driver check; recall vs brute force asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk(
        emb, _probe_set(emb), k=TOP_K, planes=32, bands=8
    ).orderBy("query_id", "rank")


register(
    QuerySpec(
        "similarity_cosine_topk",
        similarity_cosine_topk,
        COSINE_TOPK_SQL,
        "exact brute-force cosine top-k (broadcast probes, no shuffle of vectors)",
    )
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for the probe set (deterministic hash-sampled
    centroids + 1 Lloyd step; rows-only driver check — approximate by
    design, exactness-at-full-probe asserted in tests/test_ivf.py)."""
    from kinesis_vcr_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, _probe_set(emb), k=TOP_K, k_centroids=16, nprobe=6
    ).orderBy("query_id", "rank")


register(
    QuerySpec(
        "similarity_ann_topk",
        similarity_ann_topk,
        None,  # approximate by design
        "hyperplane-LSH ANN top-k (bucketed candidates, measured recall)",
    )
)
register(
    QuerySpec(
        "similarity_ivf_topk",
        similarity_ivf_topk,
        None,  # approximate by design
        "IVF ANN top-k (inverted centroid lists, nprobe search)",
    )
)


def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN top-5 for the probe set: 32 subspaces x 32
    sub-centroids (~8x compression of the 64-dim float32 vectors,
    measured recall@5 = 0.725 on the near-random fixture — PQ's worst
    case), one Lloyd refinement, asymmetric-distance search —
    approximate by design (rows-only driver check; recall vs the
    brute-force baseline asserted in tests/test_pq.py)."""
    from kinesis_vcr_spark.operators.pq import (
        pq_adc_topk, pq_encode_table, train_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = train_pq(emb, m=32, ksub=32, refine_iterations=1)
    codes = pq_encode_table(emb, codebook)
    return pq_adc_topk(
        codes, _probe_set(emb), codebook, k=TOP_K
    ).orderBy("query_id", "rank")


register(
    QuerySpec(
        "similarity_pq_topk",
        similarity_pq_topk,
        None,  # approximate by design
        "product-quantization ADC top-k (m x ksub codebook, no decode)",
    )
)


# ---------------------------------------------------------------------------
# planted-recall companions (VERDICT r06 item 2): the rows-only ANN
# family gets deterministic, ORACLE-PAIRED recall proofs — every 10th
# vector gets an identical twin at vec_id + 1e6 (the
# dedup_embedding_cosine_planted construction), and each approximate
# searcher must recover every twin for its original. Identical vectors
# hash/assign/encode identically, so twin recovery exercises the FULL
# approximate pipeline while the expected output is exact SQL.
# ---------------------------------------------------------------------------

# same construction as queries/dedup.py dedup_embedding_cosine_planted
PLANT_OFFSET = 1_000_000
PLANT_MOD = 10
# Probe-set cap: recall is checked on a FIXED-SIZE probe sample (the
# planted originals with vec_id below the cap — 500 probes at every
# sf >= 0.1), while the corpus and its twins keep growing. Without the
# cap the probe set is 10% of the corpus and every planted query does
# TH(nq x n) candidate work — 16.7x at 10x data measured on the IVF-PQ
# probe (r7 session 4) purely from fixture shape, not operator cost. A
# production recall audit samples a fixed probe batch for the same
# reason. sf0.01/sf0.1 behavior (driver gate + pins) is unchanged: all
# vec_ids there are below the cap.
PLANT_PROBE_CAP = 5_000


def _planted(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus with twins, probe set = a fixed-size sample of the
    planted originals — see PLANT_PROBE_CAP)."""
    twins = emb.where(F.col("vec_id") % PLANT_MOD == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(PLANT_OFFSET)
    )
    probes = emb.where(
        (F.col("vec_id") % PLANT_MOD == 0)
        & (F.col("vec_id") < PLANT_PROBE_CAP)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return emb.unionByName(twins), probes


def _twin_matches(res: DataFrame) -> DataFrame:
    return (
        res.where(F.col("vec_id") == F.col("query_id") + F.lit(PLANT_OFFSET))
        .select("query_id", F.col("vec_id").alias("match_id"))
        .orderBy("query_id")
    )


PLANTED_RECALL_SQL = f"""
SELECT vec_id AS query_id, vec_id + {PLANT_OFFSET} AS match_id
FROM embeddings
WHERE vec_id % {PLANT_MOD} = 0 AND vec_id < {PLANT_PROBE_CAP}
ORDER BY query_id
"""


def similarity_ann_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH recall proof: an identical twin shares every band
    signature, so it is a candidate with certainty, scores cosine 1.0
    (the fixture's organic max is ≈ 0.51), and must surface at rank 1 —
    full twin recovery is deterministic BY CONSTRUCTION, which is what
    makes an exact oracle possible for an approximate searcher."""
    corpus, probes = _planted(load_table(spark, sf_dir, "embeddings"))
    return _twin_matches(
        ann_topk(corpus, probes, k=TOP_K, planes=32, bands=8)
    )


def similarity_ivf_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall proof: the twin assigns to the probe's own nearest
    centroid (identical input → identical assignment), which nprobe ≥ 1
    always probes first, so twin recovery is deterministic by
    construction — the oracle-paired driver row for the IVF family."""
    from kinesis_vcr_spark.operators.ivf import ivf_topk

    corpus, probes = _planted(load_table(spark, sf_dir, "embeddings"))
    return _twin_matches(
        ivf_topk(corpus, probes, k=TOP_K, k_centroids=16, nprobe=6)
    )


def similarity_pq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC recall proof: the twin encodes to the query's own code, so
    its ADC score equals the query's self-code score — the top of the
    ADC ranking in practice, though (unlike ANN/IVF above) not provable
    from construction alone: ADC can inflate another code past the
    self-code when sub-centroid norms differ. k=10 (vs the family's 5)
    absorbs that slack plus the original/twin tie pair; full recovery
    at the checked fixtures is pinned by the oracle."""
    from kinesis_vcr_spark.operators.pq import (
        pq_adc_topk, pq_encode_table, train_pq,
    )

    corpus, probes = _planted(load_table(spark, sf_dir, "embeddings"))
    codebook = train_pq(corpus, m=32, ksub=32, refine_iterations=1)
    codes = pq_encode_table(corpus, codebook)
    return _twin_matches(pq_adc_topk(codes, probes, codebook, k=10))


register(
    QuerySpec(
        "similarity_ann_planted",
        similarity_ann_planted,
        PLANTED_RECALL_SQL,
        "hyperplane-LSH planted-twin recall: exact oracle for the ANN path",
    )
)
register(
    QuerySpec(
        "similarity_ivf_planted",
        similarity_ivf_planted,
        PLANTED_RECALL_SQL,
        "IVF planted-twin recall: exact oracle for the inverted-list path",
    )
)
register(
    QuerySpec(
        "similarity_pq_planted",
        similarity_pq_planted,
        PLANTED_RECALL_SQL,
        "PQ-ADC planted-twin recall: exact oracle for the quantized path",
    )
)


def similarity_ivfpq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ recall proof (E93): the twin assigns to the probe's own
    nearest centroid (identical input → identical assignment, probed
    first at any nprobe ≥ 1) and its residual encodes to the probe's
    own residual code, so its ADC score equals the query's self-code
    score — the same k=10 slack argument as ``similarity_pq_planted``
    (ADC can inflate another code past the self-code), with full
    recovery at the checked fixtures pinned by the exact oracle."""
    from kinesis_vcr_spark.operators.ivfpq import (  # noqa: PLC0415
        build_ivfpq, ivfpq_topk,
    )

    corpus, probes = _planted(load_table(spark, sf_dir, "embeddings"))
    centroids, codebook, codes = build_ivfpq(
        corpus, k_centroids=8, m=32, ksub=32, refine_iterations=1
    )
    return _twin_matches(
        ivfpq_topk(codes, centroids, codebook, probes, k=10, nprobe=2)
    )


register(
    QuerySpec(
        "similarity_ivfpq_planted",
        similarity_ivfpq_planted,
        PLANTED_RECALL_SQL,
        "IVF-PQ planted-twin recall: exact oracle for the residual-"
        "quantized inverted-list path (FAISS IndexIVFPQ shape)",
    )
)


# ---------------------------------------------------------------------------
# planted-MANIFOLD recall row (r10 verdict item 6): the twin rows above
# prove identical-vector recovery; real embedding spaces instead
# CLUSTER, and PQ/IVF recall pins on the near-random fixture are
# adversarial. This row plants a deterministic clustered manifold FROM
# the fixture itself — inject-then-process, like the e2e crawl shape —
# so an approximate searcher's output is exactly SQL-recomputable:
#
#   centers  = the first MAN_K organic embeddings, L2-normalized
#              (organic pairwise cosine tops out ~0.51 — separated);
#   member i = normalize(center[i % MAN_K] + MAN_EPS * unit(emb_i))
#              for every vec_id >= MAN_K (within-cluster cosine
#              >= ~0.94, cross-cluster <= ~0.64 — measured margin
#              pinned in tests/test_ann_clustered.py);
#   probes   = members with vec_id < MAN_K + MAN_PROBES.
#
# IVF with the planted centers FROZEN and nprobe=1 probes exactly the
# query's own cluster, whose members all assign there by the margin —
# so its top-5 equals the within-cluster exact cosine top-5, which the
# DuckDB oracle computes directly. An approximate searcher, a planted
# manifold, and an exact hash-checked answer.
# ---------------------------------------------------------------------------

MAN_K = 8
MAN_EPS = 0.25
MAN_PROBES = 64
MAN_TOP_K = 5


def _unit_arr(col):
    """L2-normalize an array<double> column with JVM-side HOFs."""
    nrm = F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.transform(col, lambda x: x / nrm)


def _manifold(emb: DataFrame) -> tuple[DataFrame, DataFrame, "object"]:
    """(corpus, probes, frozen centroid matrix) for the planted
    manifold.

    r15 (guide §4.2): the member planting used to run as a chain of
    interpreted HOFs (``_unit_arr`` twice + a ``zip_with`` under a
    broadcast join) — measured 0.65 ms/row, ~1.3 s per full pass over
    the 2 k-vector fixture, paid by every consumer of the corpus in
    both manifold rows. The centers are ALREADY collected here (the
    frozen ``cmat`` the IVF row needs), so the plant now closes over
    that matrix in ONE vectorized pandas UDF: numpy per Arrow batch,
    norms accumulated with an explicit left-to-right loop over
    dimensions — the exact operation sequence of the HOF ``aggregate``
    and of DuckDB's ``list_reduce`` (the ``pandas_cosine`` bit-identity
    argument), elementwise divide / scale / add unchanged in order, so
    every planted double is bit-identical to the HOF chain
    (parity-asserted in tests/test_ann_clustered.py and by the exact
    oracle on both manifold rows)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import (  # noqa: PLC0415
        PandasUDFType, pandas_udf,
    )

    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    centers = e.where(F.col("vec_id") < MAN_K).select(
        F.col("vec_id").cast("int").alias("cid"),
        _unit_arr(F.col("e")).alias("c"),
    )
    crows = sorted(centers.collect(), key=lambda r: r["cid"])
    cmat = np.vstack([np.asarray(r["c"], dtype=np.float64) for r in crows])

    def _plant_fn(cid, ev):
        mat = np.vstack(ev.to_numpy()).astype(np.float64)

        def seq_norm(x):
            acc = np.zeros(x.shape[0])
            for i in range(x.shape[1]):  # left-to-right, like aggregate()
                acc = acc + x[:, i] * x[:, i]
            return np.sqrt(acc)

        u = mat / seq_norm(mat)[:, None]
        raw = cmat[cid.to_numpy()] + MAN_EPS * u
        out = raw / seq_norm(raw)[:, None]
        return pd.Series(list(out))

    # explicit functionType: `from __future__ import annotations`
    # stringifies hints, which the decorator form cannot resolve
    _plant = pandas_udf(_plant_fn, "array<double>", PandasUDFType.SCALAR)

    corpus = e.where(F.col("vec_id") >= MAN_K).select(
        "vec_id",
        _plant(
            F.pmod("vec_id", F.lit(MAN_K)).cast("int"), F.col("e")
        ).alias("embedding"),
    )
    probes = corpus.where(F.col("vec_id") < MAN_K + MAN_PROBES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return corpus, probes, cmat


def similarity_ivf_manifold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 over the planted clustered manifold with FROZEN
    planted centroids and nprobe=1 — equals the within-cluster exact
    cosine top-5 by the separation margin, hence exact-oracle-checked
    (the clustered-recall companion to the planted-twin rows)."""
    from kinesis_vcr_spark.operators.ivf import ivf_topk  # noqa: PLC0415

    corpus, probes, cmat = _manifold(load_table(spark, sf_dir, "embeddings"))
    return ivf_topk(
        corpus, probes, k=MAN_TOP_K, centroids=cmat, nprobe=1
    ).orderBy("query_id", "rank")


IVF_MANIFOLD_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, e,
         sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b))
           AS nrm
  FROM v
), u AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS un FROM n
), cent AS (
  SELECT CAST(vec_id AS INT) AS cid, un AS c FROM u WHERE vec_id < {MAN_K}
), raw AS (
  SELECT m.vec_id, CAST(m.vec_id % {MAN_K} AS INT) AS cid,
         list_transform(range(1, 65),
                        i -> c.c[i] + {MAN_EPS} * m.un[i]) AS r
  FROM u m JOIN cent c ON c.cid = CAST(m.vec_id % {MAN_K} AS INT)
  WHERE m.vec_id >= {MAN_K}
), rn AS (
  SELECT vec_id, cid, r,
         sqrt(list_reduce(list_transform(r, x -> x * x), (a, b) -> a + b))
           AS nrm
  FROM raw
), mem AS (
  SELECT vec_id, cid, list_transform(r, x -> x / nrm) AS mv FROM rn
), scored AS (
  SELECT q.vec_id AS query_id, m.vec_id AS vec_id,
         round(list_reduce(list_transform(range(1, 65),
                   i -> q.mv[i] * m.mv[i]), (x, y) -> x + y), 6) AS cosine
  FROM mem q JOIN mem m ON q.cid = m.cid AND m.vec_id != q.vec_id
  WHERE q.vec_id < {MAN_K + MAN_PROBES}
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked
WHERE rank <= {MAN_TOP_K} ORDER BY query_id, rank
"""


register(
    QuerySpec(
        "similarity_ivf_manifold",
        similarity_ivf_manifold,
        IVF_MANIFOLD_SQL,
        "IVF recall on a planted clustered manifold (frozen planted "
        "centroids, nprobe=1 = the query's own cluster): exact "
        "within-cluster top-5 oracle — the clustered-recall row the "
        "near-random fixture cannot express",
    )
)


# shortlist sizing for the re-ranked PQ manifold row: 1.5× the expected
# cluster size. The shortlist provably yields the exact within-cluster
# top-5 whenever it CONTAINS the cluster, which holds unless more than
# 0.5·cluster_size cross-cluster candidates out-ADC-score cluster
# members — contradicted by the measured separation (cluster-recall 1.0
# at every checked sf; BASELINE r11 addendum 1). Pinned by the oracle.
PQ_RERANK_CLUSTER_FACTOR = 1.5


def similarity_pq_manifold_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC + exact shortlist re-rank over the planted clustered
    manifold (VERDICT r11 item 1 — the FAISS-refine second stage):
    raw ADC strict recall@5 collapses to 0.025–0.0875 inside the tight
    clusters (codes collapse, fine ranking scrambles — BASELINE r11
    addendum 1) while cluster-recall stays 1.0; re-ranking the ADC
    shortlist with exact cosine over the original vectors restores the
    exact within-cluster top-5, so the output equals the SAME DuckDB
    oracle as ``similarity_ivf_manifold`` — a quantized searcher with
    a hash-checked exact answer."""
    from kinesis_vcr_spark.operators.pq import (  # noqa: PLC0415
        pq_adc_topk, pq_encode_table, train_pq,
    )

    corpus, probes, _ = _manifold(load_table(spark, sf_dir, "embeddings"))
    # six actions consume the manifold (count, PQ seed collect, Lloyd
    # means, encode, ADC scan, re-rank fetch) — persist it or each one
    # re-executes the plant (measured 94 s cold at sf1 unpersisted;
    # the multiplicative-recompute discipline of llm_prep_spans)
    corpus = hold("similarity_pq_manifold_rerank", corpus)
    n = corpus.count()
    r = max(4 * MAN_TOP_K, int(PQ_RERANK_CLUSTER_FACTOR * n / MAN_K) + 1)
    codebook = train_pq(corpus, m=32, ksub=32, refine_iterations=1)
    codes = pq_encode_table(corpus, codebook)
    return pq_adc_topk(
        codes,
        probes,
        codebook,
        k=MAN_TOP_K,
        rerank_vectors=corpus,
        shortlist=r,
        exclude_self=True,
    ).orderBy("query_id", "rank")


register(
    QuerySpec(
        "similarity_pq_manifold_rerank",
        similarity_pq_manifold_rerank,
        IVF_MANIFOLD_SQL,
        "PQ-ADC with exact shortlist re-rank on the planted manifold: "
        "the FAISS-refine second stage closes the measured ADC "
        "strict-recall collapse — exact within-cluster top-5 oracle",
    )
)


# ---------------------------------------------------------------------------
# distributed covariance audit (operators/pca.py)
# ---------------------------------------------------------------------------

COV_DIM = 64
COV_TOP_K = 15
COV_SCALE = 1_000_000


def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 strongest off-diagonal covariances between embedding
    dimensions — the distributed ``Xᵀ X`` reduction behind PCA/OPQ
    preprocessing (operators/pca.py). Exact int64 accumulation of
    1e6-quantized components makes the covariance bit-deterministic
    across partitionings, so a float-pipeline reduction hash-matches
    the single-threaded DuckDB oracle."""
    from kinesis_vcr_spark.operators.pca import covariance_topk  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_topk(
        emb, "embedding", dim=COV_DIM, k=COV_TOP_K, scale=COV_SCALE
    )


EMBEDDING_COVARIANCE_SQL = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {COV_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
), nn AS (
  SELECT COUNT(*) AS n FROM q
), sums AS (
  SELECT ii.range AS i, SUM(qv[ii.range]) AS s
  FROM q, range(1, {COV_DIM} + 1) AS ii
  GROUP BY ii.range
), prods AS (
  SELECT ii.range AS i, jj.range AS j, SUM(qv[ii.range] * qv[jj.range]) AS s_ij
  FROM q, range(1, {COV_DIM} + 1) AS ii, range(1, {COV_DIM} + 1) AS jj
  WHERE ii.range < jj.range
  GROUP BY ii.range, jj.range
), cov AS (
  SELECT p.i, p.j,
         round((CAST(p.s_ij AS DOUBLE)
                - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE)
                  / CAST(nn.n AS DOUBLE))
               / CAST(nn.n AS DOUBLE)
               / ({COV_SCALE}.0 * {COV_SCALE}.0), 9) AS cov
  FROM prods p
  CROSS JOIN nn
  JOIN sums si ON si.i = p.i
  JOIN sums sj ON sj.i = p.j
)
SELECT i, j, cov FROM cov
ORDER BY abs(cov) DESC, i, j
LIMIT {COV_TOP_K}
"""

register(
    QuerySpec(
        "embedding_covariance_topk",
        embedding_covariance_topk,
        EMBEDDING_COVARIANCE_SQL,
        "distributed d×d Gram reduction (PCA/OPQ preprocessing): "
        "strongest cross-dimension covariances, exact-int accumulation",
    )
)
