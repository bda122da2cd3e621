"""Similarity search over embedding columns (``array<float>``).

Two strategies over the same primitives:

- :func:`cosine_topk` — exact brute-force top-k. The per-(query, vector)
  work is a broadcast of the (small) query set against the (huge) vector
  table: a BroadcastNestedLoopJoin scored by an Arrow-batched dot
  product (:func:`pandas_cosine_unit`) — no shuffle of the vector
  table at all, and the top-k is a per-query window (no global sort).
  This is the correctness baseline and the right plan when |queries| is
  small (the common "probe" shape).
- :func:`ann_topk` — random-hyperplane LSH. Vectors are bucketed by
  sign-pattern band hashes once (writable as a materialized index);
  queries probe only their own buckets via an equi-join. Sub-linear
  candidate sets at 100 TB; recall < 1 by design (measured in tests).

Everything is computed in double precision; cosines exposed
to outputs are rounded to 6 dp so results are stable across summation
orders and engines (floats differ in the last ulp, ranks don't).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

COSINE_DECIMALS = 6


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def unit_double(vec: Column) -> Column:
    """Double-precision L2-normalized copy (zero vectors stay zero)."""
    v = as_double(vec)
    n = l2_norm(v)
    return F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)


def round_cosine(c: Column) -> Column:
    return F.round(c, COSINE_DECIMALS)


def pandas_cosine(vec_a: Column, vec_b: Column) -> Column:
    """Cosine of two RAW vectors, normalized as :func:`unit_double`
    does, vectorized per Arrow batch (~10-50× the throughput of an
    interpreted ``zip_with``/``aggregate`` dot on wide candidate sets —
    the near-dup verify join was the top cost in the r05 sf1.0 scale
    run).

    Bit-identity matters because outputs are hash-compared against a
    DuckDB oracle that sums sequentially: numpy's pairwise ``np.sum``
    associates differently in the last ulp, so this accumulates with an
    explicit left-to-right loop over dimensions (each step one
    vectorized op across the batch) — the exact operation sequence of
    DuckDB's ``list_reduce``. Zero vectors
    stay zero (same contract as :func:`unit_double`).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        va = np.vstack(a.to_numpy()).astype(np.float64)
        vb = np.vstack(b.to_numpy()).astype(np.float64)

        def seq_dot(x: np.ndarray, y: np.ndarray) -> np.ndarray:
            acc = np.zeros(x.shape[0])
            for i in range(x.shape[1]):  # left-to-right, like aggregate()
                acc = acc + x[:, i] * y[:, i]
            return acc

        na = np.sqrt(seq_dot(va, va))
        nb = np.sqrt(seq_dot(vb, vb))
        na[na == 0.0] = 1.0  # zero vector / 1 = zero vector → cosine 0
        nb[nb == 0.0] = 1.0
        return pd.Series(seq_dot(va / na[:, None], vb / nb[:, None]))

    return cos(vec_a, vec_b)


def pandas_cosine_unit(unit_a: Column, unit_b: Column) -> Column:
    """Cosine of two ALREADY-normalized vectors (their dot product),
    vectorized per Arrow batch.

    Same bit-identity argument as :func:`pandas_cosine`: the dot is an
    explicit left-to-right accumulation over dimensions (each step one
    vectorized IEEE-double op across the batch) — the exact operation
    sequence of DuckDB's sequential sum. No normalization happens here,
    so unit columns persisted in an index (IVF lists store
    ``__v_unit``) score as they were stored. This is the hot-path scorer
    for the exact re-rank in :func:`cosine_topk` / :func:`ann_topk` /
    ``ivf_topk`` — the interpreted HOF was the measured linear constant
    behind ``similarity_ivf_planted``'s 11.6×/decade growth (r07
    verdict, "What's wrong" #1).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cos_unit(a: pd.Series, b: pd.Series) -> pd.Series:
        va = np.vstack(a.to_numpy()).astype(np.float64)
        vb = np.vstack(b.to_numpy()).astype(np.float64)
        acc = np.zeros(va.shape[0])
        for i in range(va.shape[1]):  # left-to-right, like aggregate()
            acc = acc + va[:, i] * vb[:, i]
        return pd.Series(acc)

    return cos_unit(unit_a, unit_b)


def adaptive_hyperplane_lsh(
    n: int,
    threshold: float = 0.95,
    target_recall: float = 0.96,
    min_rows: int = 8,
    max_rows: int = 24,
) -> tuple[int, int]:
    """Size hyperplane-LSH ``(planes, bands)`` to corpus size ``n``.

    Fixed-width bands go quadratic: with ``r`` sign bits per band, the
    random-collision candidate count is Θ(b·n²/2^r), so any constant
    ``r`` costs Θ(n²) eventually (measured: the 8-bit default was 25×
    at 10× data in the r05 sf1.0 scale run). Choosing
    ``r = ceil(log2(n/16))`` pins the expected random bucket to ~16
    members, making candidates Θ(n·b) — linear with a log-factor from
    ``b``. Band count then comes from the standard S-curve: a pair at
    ``cosine == threshold`` agrees per bit with p = 1 − θ/π and is
    missed by all bands with (1 − p^r)^b ≤ 1 − target_recall.

    At the driver fixtures (n ≤ ~4k) this reduces exactly to the
    historical ``(48, 6)`` = 8-bit × 6 default, so small-scale results
    (and the DuckDB oracle rows) are unchanged. ``max_rows`` caps the
    width at 2^24 buckets/band (~16M); past n ≈ 2^28 vectors raise it
    explicitly — banding is one numpy matmul either way.

    Identical vectors share every band at ANY width, so planted-twin
    recall proofs are width-independent.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    rows = min(max_rows, max(min_rows, math.ceil(math.log2(max(n, 2) / 16))))
    p = 1.0 - math.acos(min(threshold, 1.0)) / math.pi
    p_band = p**rows
    bands = max(
        1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    )
    return rows * bands, bands


# ---------------------------------------------------------------------------
# random hyperplanes (deterministic, seeded)
# ---------------------------------------------------------------------------


def hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (unit length, seeded MT19937)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(num_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_band_values(
    vec: Column, planes: int = 16, bands: int = 4, seed: int = 42, dim: int = 64
) -> Column:
    """Hyperplane-LSH band values as a vectorized Pandas UDF.

    One numpy matmul per Arrow batch: (batch x dim) @ (dim x planes) →
    sign bits → each band's bits packed into an int64 bucket value.
    ~10^4x the interpreted-HOF throughput; this is the hot-path banding
    used by ann_topk / near_dup_pairs_embedding. Signs are taken on the
    RAW vectors (sign(dot(v, h)) is normalization-invariant), so no
    unit projection is needed for banding.
    """
    if planes % bands:
        raise ValueError("planes must be divisible by bands")
    rows = planes // bands

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    hmat = np.array(hyperplanes(planes, dim, seed)).T  # dim x planes
    weights = (1 << np.arange(rows, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def bandify(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)  # n x dim
        signs = (mat @ hmat) >= 0  # n x planes
        vals = np.stack(
            [
                signs[:, b * rows : (b + 1) * rows].astype(np.int64) @ weights
                for b in range(bands)
            ],
            axis=1,
        )
        return pd.Series(list(vals))

    return bandify(vec)


# ---------------------------------------------------------------------------
# top-k search
# ---------------------------------------------------------------------------


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns ``(query_id, vec_id, cosine, rank)``; ``cosine`` rounded to
    6 dp, rank ties broken by ``vec_id`` (fully deterministic).

    Plan: broadcast(queries) nested-loop against vectors (vectors table
    is never shuffled) → per-query window top-k. At 1000 executors the
    vector scan parallelizes by file split; each task scores its split
    against all broadcast queries and emits ≤ k*|queries| rows after the
    partial window — the final shuffle carries candidates only.
    """
    q = queries.select(
        F.col(query_id_col),
        unit_double(F.col(vec_col)).alias("__q_unit"),
    )
    v = vectors.select(
        F.col(id_col),
        unit_double(F.col(vec_col)).alias("__v_unit"),
    )
    joined = v.join(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        joined.select(
            query_id_col,
            id_col,
            round_cosine(
                pandas_cosine_unit(F.col("__q_unit"), F.col("__v_unit"))
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def exact_rerank_topk(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine re-rank of an approximate searcher's shortlist —
    the standard second stage of every production ANN stack (FAISS
    refine / DiskANN re-rank): the quantized first stage prunes the
    corpus to R candidates per query, then the R ORIGINAL vectors are
    fetched and scored exactly so the final top-k ordering is true
    cosine, not ADC. Fixes the measured strict-recall collapse of
    PQ/IVF-PQ inside tight clusters (BASELINE r11 addendum 1:
    0.025–0.128 strict recall@5 with cluster-recall 1.0 — the codes
    collapse, the ordering scrambles; exact re-scoring restores it).

    ``candidates`` is any (query_id, vec_id) frame (extra columns are
    dropped). Plan: one narrow equi-join of the nq·R candidate pairs
    against the vector table (at 1000 executors the shortlist is tiny
    relative to the corpus, so AQE broadcasts it and the original
    vectors are fetched by a hash probe, never shuffled), broadcast of
    the query vectors, Arrow-batched exact cosine, per-query window
    top-k. Output = (query_id, vec_id, cosine, rank), bit-identical to
    ``cosine_topk`` restricted to the candidate set.
    """
    v = vectors.select(
        F.col(id_col), unit_double(F.col(vec_col)).alias("__v_unit")
    )
    q = queries.select(
        F.col(query_id_col),
        unit_double(F.col(query_vec_col)).alias("__q_unit"),
    )
    cand = candidates.select(query_id_col, id_col)
    if exclude_self:
        cand = cand.where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        cand.join(v, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            round_cosine(
                pandas_cosine_unit(F.col("__q_unit"), F.col("__v_unit"))
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    planes: int = 16,
    bands: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate buckets, then exact
    cosine rank within candidates. Same output shape as
    :func:`cosine_topk`; recall measured (not guaranteed) — more
    bands/fewer rows ⇒ higher recall, bigger candidate sets.

    Plan: both sides compute band hashes (narrow) → posexplode →
    equi-join on (band, hash) → distinct candidate pairs → exact cosine →
    window top-k. The vector-side banding is query-independent, so at
    scale it can be computed once and persisted as the "index".
    """
    v = vectors.select(
        F.col(id_col), unit_double(F.col(vec_col)).alias("__v_unit")
    )
    q = queries.select(
        F.col(query_id_col), unit_double(F.col(vec_col)).alias("__q_unit")
    )
    # banding runs on the RAW vectors (sign is normalization-invariant)
    # through the vectorized Pandas UDF; ArrowEvalPython materializes the
    # band column, so the explode/join never re-evaluate it.
    v_band = vectors.select(
        F.col(id_col),
        hyperplane_band_values(F.col(vec_col), planes, bands).alias("__bands"),
    ).select(id_col, F.posexplode("__bands").alias("band_pos", "band_hash"))
    q_band = queries.select(
        F.col(query_id_col),
        hyperplane_band_values(F.col(vec_col), planes, bands).alias("__bands"),
    ).select(
        query_id_col, F.posexplode("__bands").alias("band_pos", "band_hash")
    )
    cand = (
        q_band.join(v_band, ["band_pos", "band_hash"])
        .select(query_id_col, id_col)
        .distinct()
    )
    if exclude_self:
        cand = cand.where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        cand.join(v, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            round_cosine(
                pandas_cosine_unit(F.col("__q_unit"), F.col("__v_unit"))
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
