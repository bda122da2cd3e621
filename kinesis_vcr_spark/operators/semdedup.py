"""SemDeDup — semantic deduplication via embedding clustering.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication") prune LAION/C4-scale corpora by
embedding every item, k-means clustering the embeddings, and removing
all but one member of every intra-cluster ε-ball (pairwise cosine ≥
threshold). Clustering is what makes web scale tractable: pairwise
comparison happens only WITHIN a cluster, so total work is
Σ n_c² ≈ N²/k instead of N² — the paper runs k = 50k over 5B items.
The price is boundary misses (a near-dup pair split across clusters is
never compared); that approximation is the published algorithm, not a
shortcut taken here.

Spark shape:

1. centroids: deterministic seeds + distributed Lloyd steps
   (reused from :mod:`kinesis_vcr_spark.operators.ivf` — k×dim matrix,
   broadcast in the assignment UDF's closure);
2. assign: one vectorized Pandas-UDF matmul pass;
3. intra-cluster pairs: equi-self-join on the cluster id (bucketed —
   never all-pairs) + exact cosine filter; ``max_cluster_members``
   guards a degenerate centroid from going quadratic, same discipline
   as the LSH hot-band cap;
4. ε-balls: :func:`connected_components` over the pair graph (min-id
   root = the kept representative, deterministic);
5. verdict: every input id labeled keep/drop + its group root.

Scale knob: pick ``k_clusters ∝ N / target_cluster_size`` (the paper's
regime); each Lloyd step is one full pass, the self-join shuffles on
the cluster id only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import math

from kinesis_vcr_spark.cacheutil import hold, settle
from kinesis_vcr_spark.operators.components import connected_components
from kinesis_vcr_spark.operators.ivf import assign_centroid, train_centroids
from kinesis_vcr_spark.operators.similarity import pandas_cosine


def intra_cluster_pairs(
    assigned: DataFrame,
    id_col: str,
    threshold: float,
    max_cluster_members: int | None = 10_000,
) -> DataFrame:
    """``(id_a, id_b, cosine)`` for same-cluster pairs with cosine ≥
    threshold. ``assigned`` needs columns ``id_col, vec, cid`` (RAW
    vectors: :func:`pandas_cosine` normalizes + scores per Arrow batch,
    bit-identical to the normalize-then-dot HOF/SQL path but ~10×
    faster on wide pair sets — the r05 sf1.0 finding)."""
    from kinesis_vcr_spark.operators.dedup import cap_group_size

    members = cap_group_size(assigned, ["cid"], max_cluster_members)
    a = members.select(
        F.col(id_col).alias("id_a"), F.col("vec").alias("va"), "cid"
    )
    b = members.select(
        F.col(id_col).alias("id_b"), F.col("vec").alias("vb"), "cid"
    )
    return (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            pandas_cosine(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k_clusters: int | None = 16,
    refine_iterations: int = 1,
    max_cluster_members: int | None = 10_000,
) -> DataFrame:
    """Per-item dedup verdict: ``(id_col, cid, group, keep)``.

    ``group`` = min id of the item's ε-ball (its own id when unique);
    ``keep`` = the item IS that representative. Drop-side filter:
    ``semantic_dedup(...).where("NOT keep")``.

    ``k_clusters=None`` sizes k to the corpus: max(8, ceil(n/256)) —
    the paper's k ∝ N / target_cluster_size regime. Intra-cluster work
    is Σ n_c² ≈ N²/k, so a FIXED k is quadratic in N (measured: the
    pinned k=8 made the sf1.0 planted query ~12× at 10× data); at
    N/256 clusters it is Θ(N·256). Which pairs are compared depends on
    k, but any caller whose threshold only matches intra-ball pairs
    (the planted fixtures; any corpus whose near-dups are far tighter
    than cluster diameter) gets k-independent RESULTS.
    """
    if k_clusters is None:
        k_clusters = max(8, math.ceil(df.count() / 256))
    centroids = train_centroids(
        df, k=k_clusters, id_col=id_col, vec_col=vec_col,
        refine_iterations=refine_iterations,
    )
    # held: `assigned` feeds BOTH the pair self-join and the final
    # verdict join, which share no exchange — without this the scan +
    # assignment-UDF matmul run once per branch
    assigned = hold("semantic_dedup", df.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        assign_centroid(F.col(vec_col), centroids).alias("cid"),
    ))
    pairs = intra_cluster_pairs(
        assigned, id_col, threshold, max_cluster_members
    )
    comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed(
        "node", id_col
    )
    # connected_components materialized `comp` (per-round lineage
    # truncation), so the only live consumer of the fat `assigned`
    # cache (id + unit vector + cid) is the slim 2-column verdict
    # input. One settle round counts that projection into a checkpoint
    # (read from the cache), then releases `assigned`, the scope's
    # previous frame, and holds the ids until the next call — a lazy
    # checkpoint would materialize only after the release, re-running
    # the scan and the assignment UDF.
    ids, _ = settle(assigned.select(id_col, "cid"), "semantic_dedup", 0)
    return (
        ids
        .join(comp, id_col, "left")
        .select(
            id_col,
            "cid",
            F.coalesce("component", F.col(id_col)).alias("group"),
            (F.coalesce("component", F.col(id_col)) == F.col(id_col)).alias(
                "keep"
            ),
        )
    )
