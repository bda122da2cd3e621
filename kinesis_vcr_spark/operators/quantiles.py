"""Quantiles without a single-partition sort: a mergeable per-key
quantile sketch and an exact distributed NTILE.

- :func:`quantile_sketch` keeps a deterministic uniform bottom-k sample
  per key (map-side ticket cut, one small ``collect_list``), and
  :func:`quantile_from_sketch` reads a quantile off it as a column
  expression.
- :func:`exact_ntile` is ``NTILE(k) OVER (ORDER BY …)`` value for value.
  ``order_value_deciles`` (queries/windowed.py) ranks with it: a plain
  window on small inputs, and above ``SMALL_RANK_ROWS`` the two-pass
  block rank of :func:`exact_global_rank`, whose per-block sorts run in
  parallel instead of one total sort on one partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.sampling import (
    TICKET_DIGITS,
    sample_ticket,
)


# ---------------------------------------------------------------------------
# mergeable quantile sketch (deterministic bottom-k sample)
# ---------------------------------------------------------------------------

#: default sample size per key. Quantile rank error of a uniform
#: k-sample is ~ sqrt(q(1-q)/k): k=256 → ±3.1 % at the median (1σ),
#: ±1.4 % at p95. Bump k for tighter audits; state stays O(k).
QSK_K = 256

#: survivor-budget multiple for the HLL-cut prefilter (same Chernoff
#: argument as sketch.KMV_OVERSAMPLE: P(< k survive) < e^{-k·49/16} at
#: OVERSAMPLE=8 — negligible even with HLL's ~5 % count error).
QSK_OVERSAMPLE = 8.0

_TICKET_SPACE = float(16**TICKET_DIGITS)


def quantile_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    id_cols: list[str],
    k: int = QSK_K,
    seed: str = "",
) -> DataFrame:
    """Per-key mergeable quantile sketch — the missing classic next to
    HLL/CMS/KMV/Bloom in operators/sketch.py: a DETERMINISTIC uniform
    k-sample of ``value_col`` per key, ``(keys…, qs:
    array<struct<t: string, v: double>> sorted asc, len ≤ k)``.

    The sample is the k rows with the smallest md5 ticket over
    ``id_cols`` (:func:`~kinesis_vcr_spark.operators.sampling.
    sample_ticket` — fixed-width lowercase hex, lexicographic ==
    numeric, identical in DuckDB): no RNG, no partition dependence, so
    an oracle reproduces the sample — and therefore every quantile
    estimate — bit-for-bit. Sketches over DISJOINT row sets merge as the
    bottom-k of their concatenation, associative and order-free.

    Scale posture (mirrors kmv_sketch, ADVICE r03): one
    ``approx_count_distinct`` pass estimates per-key row counts, then
    only tickets below ``OVERSAMPLE·k/n`` of the ticket space survive
    into the ``collect_list`` — per-task state ~8k structs per key
    regardless of cardinality. Ties on (t, v) are kept as duplicates
    (rows are distinct by id), matching the oracle's
    ``row_number() ORDER BY t, v`` exactly.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    hashed = df.select(
        *key_cols,
        sample_ticket(*id_cols, seed=seed).alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    )
    cuts = hashed.groupBy(*key_cols).agg(
        F.least(
            F.lit(1.0),
            F.lit(QSK_OVERSAMPLE * k) / F.approx_count_distinct("__t"),
        ).alias("__cut_frac")
    )
    survivors = (
        hashed.join(cuts, list(key_cols))
        .where(
            (F.col("__cut_frac") >= 1.0)
            | (
                F.conv(F.col("__t"), 16, 10).cast("double")
                < F.col("__cut_frac") * F.lit(_TICKET_SPACE)
            )
        )
        .drop("__cut_frac")
    )
    qs = F.slice(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("__t").alias("t"), F.col("__v").alias("v"))
            )
        ),
        1,
        k,
    )
    return survivors.groupBy(*key_cols).agg(qs.alias("qs"))


def quantile_from_sketch(qs: Column, q: float) -> Column:
    """Quantile estimate from a sketch array: the sampled value at rank
    ``max(1, ceil(q·m))`` of the m sorted sample values — the discrete
    (non-interpolated) quantile of the sample, reproducible verbatim in
    SQL (``row_number() ORDER BY v`` + the same rank formula)."""
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    vals = F.sort_array(F.transform(qs, lambda s: s["v"]))
    rank = F.greatest(
        F.lit(1), F.ceil(F.lit(float(q)) * F.size(vals)).cast("int")
    )
    return F.element_at(vals, rank)


def exact_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
) -> tuple[DataFrame, int]:
    """EXACT ``row_number() OVER (ORDER BY order_cols)`` without a
    single-partition total sort. Returns ``(df + rank_col, total_rows)``.

    Two passes, both fully distributed:

    1. per-BLOCK counts, where the block id is a STATIC monotone
       function of the leading key — ``floor(log(v)·64)`` per sign
       branch (Java's ``Math.log`` is documented semi-monotonic, and
       ×64 / ``floor`` preserve order), ~64 blocks per e-fold of value
       range. Static matters: the tempting ``repartitionByRange +
       spark_partition_id`` version is WRONG here — each action
       re-samples range boundaries with a new RDD id, so the counts
       job and the rank job can see different partitionings (observed
       as duplicate ranks). A sketch-boundary pass would also work but
       costs a third full scan; the static function needs none.
    2. ``rank = offset[block] + row_number() within block`` — the
       O(blocks) count rows prefix-sum on the driver and come back as
       a broadcast-joined offset table; the per-block sorts run in
       parallel and spill, never a single-partition exchange.

    The block function is monotone in the leading key and ties share a
    block, so offset + local rank IS the exact global row_number over
    ``order_cols``. Value-skewed data degrades block balance (an
    equal-value run must sit in one block to be ranked contiguously),
    never correctness. Block granularity is fixed by the static
    function."""
    from pyspark.sql import Window  # noqa: PLC0415

    spark = df.sparkSession
    cols = [F.col(c) for c in order_cols]
    v = F.col(order_cols[0]).cast("double")
    block = (
        # branch order matters: Spark sorts NULL first (asc) and NaN
        # last, and NaN > 0 is TRUE in Spark — so both need explicit
        # blocks before the sign branches
        F.when(v.isNull(), F.lit(-(1 << 42)))
        .when(F.isnan(v), F.lit(1 << 62))
        .when(v == F.lit(float("inf")), F.lit(1 << 61))
        .when(v == F.lit(float("-inf")), F.lit(-(1 << 42) + 1))
        .when(v > 0, F.floor(F.log(v) * 64))
        .when(v == 0, F.lit(-(1 << 40)))
        .otherwise(-F.floor(F.log(-v) * 64) - F.lit(1 << 41))
        .cast("long")
    )
    blocked = df.withColumn("__blk", block)
    counts = blocked.groupBy("__blk").count().collect()
    acc = 0
    offset_rows = []
    for row in sorted(counts, key=lambda r: r["__blk"]):
        offset_rows.append((row["__blk"], acc))
        acc += row["count"]
    offsets = spark.createDataFrame(
        offset_rows or [(0, 0)], schema="__blk long, __off long"
    )
    local = F.row_number().over(Window.partitionBy("__blk").orderBy(*cols))
    return (
        blocked.join(F.broadcast(offsets), "__blk")
        .withColumn(rank_col, (F.col("__off") + local).cast("long"))
        .drop("__blk", "__off"),
        acc,
    )


#: below this row count a single-partition window is cheaper than the
#: two-pass distributed rank (one task sorting ≤ a few million slim
#:  rows beats two extra distributed jobs of fixed overhead) — the same
#: adaptive-threshold logic Spark applies to broadcast joins. The
#: distributed path takes over exactly where the single sort would
#: start to hurt.
SMALL_RANK_ROWS = 4_000_000


def exact_ntile(
    df: DataFrame,
    order_cols: list[str],
    num_buckets: int,
    ntile_col: str = "ntile",
    small_input_rows: int = SMALL_RANK_ROWS,
) -> DataFrame:
    """EXACT ``NTILE(num_buckets) OVER (ORDER BY order_cols)`` — same
    values as the SQL window function, without an unconditional
    single-partition sort.

    Adaptive: the total row count (needed for the NTILE closed form
    anyway) picks the plan — at or below ``small_input_rows`` the plain
    window wins (one small sort vs two extra jobs); above it,
    :func:`exact_global_rank` keeps every data path distributed. Both
    paths produce identical values (pinned in tests/test_quantiles.py).

    NTILE semantics: with ``N = q·k + rem`` rows over ``k`` buckets,
    the first ``rem`` buckets take ``q+1`` rows, the rest ``q`` — a
    closed form of the global rank, applied as pure column arithmetic."""
    from pyspark.sql import Window  # noqa: PLC0415

    total = df.count()
    if total <= small_input_rows:
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(ntile_col, F.ntile(num_buckets).over(w))
    ranked, total = exact_global_rank(df, order_cols, "__rank")
    q, rem = divmod(total, num_buckets)
    cut = rem * (q + 1)
    r = F.col("__rank")
    first = F.floor((r - 1) / F.lit(q + 1)) + 1
    rest = (
        F.floor((r - cut - 1) / F.lit(max(q, 1))) + rem + 1
        if q > 0
        else F.lit(None)  # unreachable: q == 0 → every rank ≤ cut
    )
    return ranked.withColumn(
        ntile_col, F.when(r <= cut, first).otherwise(rest).cast("int")
    ).drop("__rank")
