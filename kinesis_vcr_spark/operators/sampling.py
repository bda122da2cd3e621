"""Deterministic sampling operators — hash-Bernoulli, stratified
top-k-by-hash, and named train/val/test splits.

A training-data pipeline needs samples that are (a) reproducible across
runs and engines, (b) stable under repartitioning, and (c) free of
coordination — ``df.sample()`` satisfies none of these (its output
depends on partitioning and RNG stream position). These operators
derive every decision from ``md5`` of the row's logical key, so the
same row lands in the same sample/split on any engine, any partition
layout, any cluster size.

Scale posture:

- **Bernoulli / split: zero shuffles.** A narrow ``filter`` /
  ``withColumn`` over the scan — the 100 TB cost is the scan itself.
  The md5 comparison is a whole-stage-codegen string compare
  (lexicographic on lowercase hex), no Python.
- **Stratified top-k: one shuffle on the strata key**, with an optional
  two-phase mode for hot strata: phase 1 takes the top-k within each of
  ``salt_factor`` hash-salted sub-partitions (bounding any single
  task's sort to ~stratum/salt_factor rows), phase 2 re-ranks the
  ≤ k·salt_factor survivors. Exact: the global hash-order top-k of a
  stratum is contained in the union of its per-salt top-k sets.

Reference parity: the reference engine has no sampling surface — this
is part of the engine-added training-data layer (SURVEY.md §2.5a).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Unit separator — printable-safe in both Spark and DuckDB varchars
# (chr(0) is rejected by DuckDB string handling).
_SEP = "\x1f"

#: hex digits of the md5 prefix used as the sampling ticket.  8 digits
#: = 32 bits → fraction granularity 2.3e-10, plenty; keeping the ticket
#: short keeps the codegen'd string compare cheap.
TICKET_DIGITS = 8


def sample_ticket(*key_cols: str | Column, seed: str = "") -> Column:
    """Deterministic uniform "ticket" for a row: the first 8 hex digits
    of ``md5(seed ␟ key...)``.  Uniform on [0, 16^8) when the key is
    unique; independent tickets for different seeds."""
    parts = [F.lit(seed)] + [
        (F.col(c) if isinstance(c, str) else c).cast("string") for c in key_cols
    ]
    return F.substring(F.md5(F.concat_ws(_SEP, *parts).cast("binary")), 1, TICKET_DIGITS)


def ticket_threshold(fraction: float) -> str:
    """Lowercase-hex threshold t such that P(ticket < t) == fraction
    (to 2^-32). Lexicographic compare of fixed-width lowercase hex is
    numeric compare — identical in Spark and DuckDB."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return format(int(fraction * (16**TICKET_DIGITS)), f"0{TICKET_DIGITS}x")


def hash_bernoulli(
    df: DataFrame,
    key_cols: list[str],
    fraction: float,
    seed: str = "",
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows, decided per-row by
    key hash. Stable under repartitioning and engine-portable; rows
    with equal keys sample together (useful: all chunks of one doc)."""
    return df.where(sample_ticket(*key_cols, seed=seed) < ticket_threshold(fraction))


def split_assign(
    *key_cols: str | Column,
    weights: dict[str, float],
    seed: str = "",
) -> Column:
    """CASE expression assigning each row a named split ('train' /
    'val' / 'test' …) by cumulative weight over the hash ticket.
    Weights must sum to ~1; the last split absorbs rounding."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    ticket = sample_ticket(*key_cols, seed=seed)
    names = list(weights)
    expr: Column | None = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = ticket < ticket_threshold(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1]))


def train_val_test_split(
    df: DataFrame,
    key_cols: list[str],
    weights: dict[str, float] | None = None,
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Tag each row with a deterministic named split. Default 80/10/10.

    Zero-shuffle: downstream writers can partition by ``split_col`` to
    materialize the three datasets in one pass."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    return df.withColumn(split_col, split_assign(*key_cols, weights=weights, seed=seed))


def stratified_topk_by_hash(
    df: DataFrame,
    strata_cols: list[str],
    k: int,
    key_cols: list[str],
    seed: str = "",
    salt_factor: int = 1,
) -> DataFrame:
    """Exactly ``k`` rows per stratum (fewer if the stratum is smaller),
    chosen as the k smallest hash tickets — a deterministic,
    engine-portable reservoir sample.

    ``salt_factor > 1`` enables the two-phase exact top-k for skewed
    strata: phase 1 ranks within (stratum, xxhash64(key) % salt)
    sub-partitions, phase 2 re-ranks the ≤ k·salt survivors. Use when
    one stratum may hold billions of rows (e.g. lang='en' in a web
    corpus) — no single task ever sorts more than stratum/salt rows.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    ticket = sample_ticket(*key_cols, seed=seed).alias("__ticket")
    tie = [F.col(c) for c in key_cols]  # total order even on ticket collision
    work = df.withColumn("__ticket", ticket)
    if salt_factor > 1:
        salt = F.pmod(
            F.xxhash64(*[F.col(c).cast("string") for c in key_cols]),
            F.lit(salt_factor),
        )
        work = work.withColumn("__salt", salt)
        w1 = Window.partitionBy(*strata_cols, "__salt").orderBy("__ticket", *tie)
        work = (
            work.withColumn("__rk1", F.row_number().over(w1))
            .where(F.col("__rk1") <= k)
            .drop("__rk1", "__salt")
        )
    w2 = Window.partitionBy(*strata_cols).orderBy("__ticket", *tie)
    return (
        work.withColumn("__rk", F.row_number().over(w2))
        .where(F.col("__rk") <= k)
        .drop("__rk", "__ticket")
    )


def select_within_token_budget(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget_tokens: int,
    order_by: list[Column] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy per-group corpus selection under a token budget: walk each
    group in priority order and keep rows while the RUNNING TOTAL of
    ``tokens_col`` stays ≤ ``budget_tokens`` (prefix-inclusive: the
    first overshooting row and everything after it is rejected).

    This is the "give me the best N-token slice of every source" step
    of training-mix construction — quality-ranked, deterministic
    (``order_by`` defaults to ``tokens_col`` desc with an md5 ticket of
    ``id_col`` as the tiebreak, so re-runs and engines agree even on
    ties), and exact.

    Adds ``cum_tokens`` (inclusive prefix sum in priority order) and
    ``selected``. One shuffle on ``group_col`` + an in-group sort — the
    same shape as any per-group window. A prefix sum is inherently
    sequential per group, so a pathologically hot group serializes in
    one task; at that scale switch strategy: estimate the order-col
    threshold with ``approx_percentile(order, budget/group_tokens)``
    and filter — approximate, but shuffle-free (the profiler's
    ``key_skew_profile`` tells you which groups need it).
    """
    order = order_by
    if order is None:
        order = [
            F.col(tokens_col).desc(),
            sample_ticket(id_col, seed="budget"),
        ]
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokens_col).over(w)
    return df.withColumn("cum_tokens", cum).withColumn(
        "selected", F.col("cum_tokens") <= F.lit(int(budget_tokens))
    )


def weighted_sample_k_per_group(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "wsample",
    salt_factor: int = 16,
) -> DataFrame:
    """Weighted random sample WITHOUT replacement, k per group —
    Efraimidis-Spirakis (IPL 2006) A-ES keys made deterministic: each
    row's uniform draw is its md5 ticket, ``u = (hexint + 0.5) / 16^8``
    in (0,1), and the k rows with the SMALLEST ``-ln(u)/w`` win —
    exactly the classic exponential-jitter reservoir, but reproducible
    across runs, engines, and partition layouts (same discipline as
    every ticket in this module).

    P(row wins a slot) is proportional to ``weight_col`` in the
    without-replacement sense. Rows with weight ≤ 0 are filtered out
    before the draw (never selected — the E-S limit of w→0; under ANSI
    mode a 0 divisor would throw, and a negative weight's key would
    nonsensically sort first).

    One pass, no per-group state beyond the top-k heap: rides the
    salted two-phase ``topk_per_group``, so a hot group's sort is
    bounded at ~group/salt_factor rows per task. Changing ``seed``
    draws an independent sample; samples across seeds are the
    bootstrap-replicate generator.
    """
    from kinesis_vcr_spark.operators.topk import topk_per_group

    u = (
        F.conv(sample_ticket(id_col, seed=seed), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16**TICKET_DIGITS))
    key = -F.log(u) / F.col(weight_col).cast("double")
    picked = topk_per_group(
        df.where(F.col(weight_col) > 0).withColumn("__es_key", key),
        key_cols=[group_col],
        order_by=[F.col("__es_key").asc(), F.col(id_col)],
        k=k,
        salt_factor=salt_factor,
    )
    return picked.drop("__es_key")
