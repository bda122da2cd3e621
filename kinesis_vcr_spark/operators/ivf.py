"""IVF (inverted-file) approximate nearest neighbor — the
coarse-quantizer alternative to hyperplane LSH (operators/similarity).

Index = a small set of centroids + an assignment of every vector to its
nearest centroid (the "inverted lists"). Search probes only the
``nprobe`` nearest lists per query. Centroids are deterministic:
hash-sampled seed vectors refined by one Lloyd iteration (both steps
are plain DataFrame ops; the per-row nearest-centroid assignment is a
vectorized Pandas UDF — one numpy matmul per Arrow batch, same pattern
as hyperplane banding).

Scale posture: the index build is two narrow passes + one tiny
groupBy (k x dim rows); the assigned table (`vec_id`, `centroid_id`)
is the persistent artifact at 100 TB — search shuffles only candidate
lists, never the full vector table. Centroid count is the knob:
k ≈ sqrt(N) keeps lists O(sqrt(N)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from kinesis_vcr_spark.operators.similarity import (
    pandas_cosine_unit,
    round_cosine,
    unit_double,
)


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def train_centroids(
    vectors: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iterations: int = 1,
) -> np.ndarray:
    """Deterministic centroids: the k vectors with the smallest
    xxhash64(id) are the seeds (an order-free pseudo-random sample),
    refined by ``refine_iterations`` Lloyd steps. Returns a unit-row
    (k x dim) numpy matrix — small enough to close over in the
    assignment UDF.

    Each Lloyd step is fully distributed: assign (Pandas-UDF matmul) →
    posexplode → groupBy (centroid, dim) mean → collect k x dim rows.
    """
    seeds = (
        vectors.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    centroids = _normalize_rows(
        np.array([list(r[vec_col]) for r in seeds], dtype=np.float64)
    )
    for _ in range(refine_iterations):
        assigned = vectors.select(
            F.col(vec_col),
            assign_centroid(F.col(vec_col), centroids).alias("cid"),
        )
        means = (
            assigned.select(
                "cid", F.posexplode(F.col(vec_col)).alias("dim", "val")
            )
            .groupBy("cid", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new = centroids.copy()
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["dim"]] = r["m"]
        for cid, dims in by_cid.items():
            new[cid] = [dims[d] for d in range(centroids.shape[1])]
        centroids = _normalize_rows(new)
    return centroids


def assign_centroid(vec, centroids: np.ndarray):
    """Nearest-centroid id (max cosine ≡ max dot against unit centroid
    rows) as a vectorized Pandas UDF column."""
    cmat = centroids.T  # dim x k

    @pandas_udf(IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        mat = _normalize_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        return pd.Series(np.argmax(mat @ cmat, axis=1).astype(np.int32))

    return nearest(vec)


def probe_centroids(vec, centroids: np.ndarray, nprobe: int):
    """Array of the ``nprobe`` nearest centroid ids per query vector."""
    cmat = centroids.T

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        mat = _normalize_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        order = np.argsort(-(mat @ cmat), axis=1)
        return pd.Series(list(order[:, :nprobe].astype(np.int32)))

    return probes(vec)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest inverted lists per
    query, exact-cosine-rank within the candidates. Same output shape
    as ``cosine_topk`` (query_id, vec_id, cosine, rank); recall grows
    with nprobe/k_centroids (nprobe = k_centroids ⇒ exact search).

    Pass a pre-trained ``centroids`` matrix to reuse an index across
    queries (at scale: persist the assigned table too).
    """
    if centroids is None:
        centroids = train_centroids(
            vectors, k_centroids, id_col=id_col, vec_col=vec_col
        )
    v = vectors.select(
        F.col(id_col),
        unit_double(F.col(vec_col)).alias("__v_unit"),
        assign_centroid(F.col(vec_col), centroids).alias("cid"),
    )
    q = queries.select(
        F.col(query_id_col),
        unit_double(F.col(vec_col)).alias("__q_unit"),
        F.explode(
            probe_centroids(F.col(vec_col), centroids, nprobe)
        ).alias("cid"),
    )
    cand = q.join(v, "cid")
    return _rank_candidates(cand, query_id_col, id_col, k, exclude_self)


def _rank_candidates(
    cand: DataFrame,
    query_id_col: str,
    id_col: str,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    if exclude_self:
        cand = cand.where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        cand.select(
            query_id_col,
            id_col,
            round_cosine(
                pandas_cosine_unit(F.col("__q_unit"), F.col("__v_unit"))
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _rm_recursive(spark, path: str) -> None:
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _write_lists(
    vectors: DataFrame,
    index_path: str,
    centroids: np.ndarray,
    id_col: str,
    vec_col: str,
    ingest_label: str,
    mode: str = "overwrite",
) -> None:
    (
        vectors.select(
            F.col(id_col),
            unit_double(F.col(vec_col)).alias("__v_unit"),
            assign_centroid(F.col(vec_col), centroids).alias("cid"),
        )
        # cluster the lists on disk so a probe reads contiguous data
        .repartition("cid")
        .write.mode(mode)  # scoped to THIS ingest's subtree
        .partitionBy("cid")
        .parquet(f"{index_path}/lists/ingest={ingest_label}")
    )


def build_ivf_index(
    vectors: DataFrame,
    index_path: str,
    k_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train and PERSIST the IVF index: centroids + the assigned
    inverted lists (id, unit vector, centroid id) as parquet under
    ``index_path``. Build once, query many — at corpus scale the
    k-means pass and the per-vector assignment are the costs to pay
    once, not per query batch; a later search is one parquet scan
    pruned to the probed lists plus the re-rank.

    Lists live under ``lists/ingest=<label>`` scopes (same layout as
    the near-dup index, operators/dedup_index.py):
    :func:`append_ivf_index` adds a new vector batch as its own scope
    without touching the existing lists, and a labeled re-run
    overwrites only itself (orchestrator replay safety)."""
    spark = vectors.sparkSession
    centroids = train_centroids(
        vectors, k_centroids, id_col=id_col, vec_col=vec_col
    )
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(centroids)],
        "cid int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{index_path}/centroids")
    # fresh build replaces the whole artifact — stale ingest scopes
    # from a previous build must not leak into partition discovery
    _rm_recursive(spark, f"{index_path}/lists")
    _write_lists(vectors, index_path, centroids, id_col, vec_col, "_base")


def append_ivf_index(
    vectors: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ingest_label: str = "_appends",
) -> None:
    """Extend a persisted IVF index with a new vector batch WITHOUT
    retraining: assign against the FROZEN stored centroids, write the
    assignments as their own ``ingest`` scope. O(batch) work — the
    incremental-ingest counterpart of the near-dup index's append.

    Contract: frozen centroids mean a probe over the appended index is
    IDENTICAL to a probe over an index of old ∪ new assigned with the
    same centroids (parity-tested); what drifts over many appends is
    list balance (new data far from any centroid piles into its
    nearest list) — monitor list sizes and re-train/rebuild when the
    largest list outgrows the probe budget, exactly like production
    IVF systems.

    Write mode mirrors the near-dup index contract
    (operators/dedup_index.py): an EXPLICIT ``ingest_label`` overwrites
    only its own scope (orchestrator replay idempotence), while the
    default ``_appends`` scope ACCUMULATES — two default-label appends
    must both survive, so the unlabeled scope uses mode=append and
    idempotence is then the caller's problem."""
    spark = vectors.sparkSession
    centroids, _ = load_ivf_index(spark, index_path)
    mode = "append" if ingest_label == "_appends" else "overwrite"
    _write_lists(
        vectors, index_path, centroids, id_col, vec_col, ingest_label,
        mode=mode,
    )


def compact_ivf_index(spark, index_path: str) -> None:
    """Collapse accumulated ``lists/ingest=<label>`` scopes (daily
    appends) into one compacted scope, preserving the ``cid`` physical
    clustering — probe results identical before/after (test-pinned);
    run only while no ingest is writing. Same swap contract as the
    near-dup index compaction
    (:func:`~kinesis_vcr_spark.operators.compaction.compact_scoped_state`)."""
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    compact_scoped_state(spark, f"{index_path}/lists", ("cid",))


def load_ivf_index(spark, index_path: str) -> tuple[np.ndarray, DataFrame]:
    """(centroids matrix, inverted-lists DataFrame) from
    :func:`build_ivf_index` output; the ``ingest`` provenance
    partition column is dropped from the probe-facing frame."""
    rows = (
        spark.read.parquet(f"{index_path}/centroids").orderBy("cid").collect()
    )
    centroids = np.array([r["centroid"] for r in rows], dtype=np.float64)
    lists = spark.read.parquet(f"{index_path}/lists")
    lists = lists.drop("ingest")
    return centroids, lists


def ivf_topk_indexed(
    index: tuple[np.ndarray, DataFrame],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k against a persisted index (:func:`build_ivf_index` /
    :func:`load_ivf_index`) — no training, no re-assignment; the
    ``cid`` equi-join prunes the scan to the probed partitions.
    Identical results to :func:`ivf_topk` with the same centroids."""
    centroids, lists = index
    q = queries.select(
        F.col(query_id_col),
        unit_double(F.col(vec_col)).alias("__q_unit"),
        F.explode(
            probe_centroids(F.col(vec_col), centroids, nprobe)
        ).alias("cid"),
    )
    cand = q.join(lists, "cid")
    return _rank_candidates(cand, query_id_col, id_col, k, exclude_self)
