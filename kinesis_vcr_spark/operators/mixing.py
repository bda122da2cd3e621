"""Weighted corpus mixing — per-source epoch weights, up and down.

Training mixtures assign each data source a weight: The Pile samples
each subset at an "epochs" factor (Wikipedia ~3 epochs, CC < 1),
DoReMi learns the weights — but the EXECUTION step is always the same:
materialize a corpus where every document of source s appears
``w_s`` times in expectation. Fractional and > 1 weights compose one
mechanism:

- ``floor(w)`` guaranteed copies of every document;
- one extra copy with probability ``frac(w)``, decided by the same
  md5 hash ticket the sampling operators use — per-document
  deterministic, layout/retry-stable, engine-portable.

The weight map is static configuration, so both the copy floor and the
fractional-ticket threshold resolve to literal CASE expressions built
driver-side (``ticket_threshold`` gives the exact 8-hex-digit cut —
no runtime float→hex conversion to drift between engines). Copy
fan-out is ``posexplode(sequence)``, a narrow 1→N with ZERO shuffles —
at 100 TB the mix is a pure scan projection; ``copy_id`` makes
replicas distinguishable for downstream shuffles/packing.

Membership is monotone in w: raising a source's weight only ever ADDS
rows (the extra-copy ticket test is the same hash at a higher
threshold), so mixture ablations nest — the 0.5× corpus is a strict
subset of the 1.5× corpus restricted to copy_id 0.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.sampling import sample_ticket, ticket_threshold


def _resolved(weights: dict[str, float], default_weight: float) -> dict[str, float]:
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"negative weight for {s!r}: {w}")
    if default_weight < 0:
        raise ValueError(f"negative default weight: {default_weight}")
    return dict(sorted(weights.items()))


def copy_count(
    stratum_col: str,
    ticket: Column,
    weights: dict[str, float],
    default_weight: float = 1.0,
) -> Column:
    """Exact per-row copy count: ``floor(w) + (ticket < frac-cut(w))``
    with both pieces as literal CASE over the stratum."""
    ws = _resolved(weights, default_weight)
    base: Column = F.lit(math.floor(default_weight))
    cut: Column = F.lit(ticket_threshold(default_weight - math.floor(default_weight)))
    for s, w in ws.items():
        base = F.when(F.col(stratum_col) == s, F.lit(math.floor(w))).otherwise(base)
        cut = F.when(
            F.col(stratum_col) == s,
            F.lit(ticket_threshold(w - math.floor(w))),
        ).otherwise(cut)
    return (base + (ticket < cut).cast("int")).cast("int")


def weighted_mix(
    df: DataFrame,
    stratum_col: str,
    key_cols: list[str],
    weights: dict[str, float],
    default_weight: float = 1.0,
    seed: str = "mix",
) -> DataFrame:
    """Replicate/sample rows so each appears ``weights[stratum]`` times
    in expectation. Adds ``copy_id`` (0-based); rows whose copy count
    is 0 disappear. Deterministic per (key, seed); w < 1 degenerates to
    hash-Bernoulli downsampling."""
    ticket = sample_ticket(*key_cols, seed=seed)
    n = copy_count(stratum_col, ticket, weights, default_weight)
    return (
        df.withColumn("__n", n)
        .where(F.col("__n") > 0)
        .select(
            "*",
            F.posexplode(
                F.sequence(F.lit(0), F.col("__n") - F.lit(1))
            ).alias("copy_id", "__drop"),
        )
        .drop("__n", "__drop")
    )
