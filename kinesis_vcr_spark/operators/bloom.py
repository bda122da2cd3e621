"""Portable Bloom-filter membership sketch — decontamination's
constant-memory scale path.

The exact n-gram decontamination join (operators/decontam.py) shuffles
benchmark grams against corpus grams; at 100 TB the cheaper shape is a
Bloom filter OF the benchmark, broadcast to the corpus scan: membership
becomes a map-side bit probe with zero shuffle of corpus rows, at the
price of a bounded false-positive rate (never false negatives — flagged
docs can be re-checked exactly, clean docs are definitely clean).

Everything is deterministic integer arithmetic, so Spark and DuckDB
build BIT-IDENTICAL filters (same md5-derived key digest, same
``(a_j·x + b_j) mod P mod m`` positions, same 32-bit words):

- digest ``x`` = first 7 hex digits of md5(key) → < 2^28
- ``h`` universal hashes with P = 2^31−1 (products stay < 2^59: no
  64-bit overflow on either engine)
- the filter itself is a SPARSE DataFrame ``(word_idx, word_bits)`` of
  32-bit words OR-ed by ``bit_or`` — built distributed (map-side
  combined, never collected), merged across corpora by unioning and
  re-OR-ing, broadcast for probes (m/32 rows max; m = 2^20 bits ≈
  32K rows ≈ 0.5 MB)

Sizing: FP rate ≈ (1 − e^(−h·n/m))^h; the classic m/n = 10 bits/key
with h = 7 gives <1%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1: universal-hash modulus; with x < 2^28 and
#: a < P the product stays < 2^59 — safe 64-bit on both engines.
MERSENNE_P = 2**31 - 1

#: deterministic odd multipliers/offsets for the hash family (any fixed
#: values < P work; these are from the repo-wide mod-prime family)
HASH_A = (1103515245, 69069, 1664525, 22695477, 134775813, 214013,
          747796405, 62089911)
HASH_B = (12345, 362437, 1013904223, 1, 7, 2531011, 2891336453 % MERSENNE_P,
          4294967291 % MERSENNE_P)

WORD_BITS = 32  # 32-bit words: (1 << bit) stays positive in int64


def key_digest(key: Column) -> Column:
    """First 7 md5 hex digits as a bigint (< 2^28) — the integer the
    hash family mixes; identical via DuckDB ('0x'||substr(md5,1,7))."""
    return F.conv(F.substring(F.md5(key.cast("binary")), 1, 7), 16, 10).cast(
        "long"
    )


def _positions(key: Column, m_bits: int, n_hashes: int) -> Column:
    """Array of ``n_hashes`` bit positions for a key."""
    if n_hashes > len(HASH_A):
        raise ValueError(f"n_hashes must be <= {len(HASH_A)}")
    if m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two, got {m_bits}")
    x = key_digest(key)
    return F.array(
        *[
            ((x * F.lit(HASH_A[j]) + F.lit(HASH_B[j])) % MERSENNE_P) % m_bits
            for j in range(n_hashes)
        ]
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 2**20,
    n_hashes: int = 7,
) -> DataFrame:
    """Build the sparse filter: ``(word_idx, word_bits)`` rows, only
    non-zero words. One explode + one map-side-combined ``bit_or``
    aggregate — the result is ≤ m/32 rows regardless of corpus size,
    and never touches the driver. Filters built with the same (m, h)
    merge by a union and a re-OR of ``word_bits`` per ``word_idx``
    (associative and commutative)."""
    pos = F.explode(
        _positions(F.col(key_col), m_bits, n_hashes)
    ).alias("pos")
    return (
        keys.select(pos)
        .select(
            (F.col("pos") / WORD_BITS).cast("long").alias("word_idx"),
            # python-API shiftleft takes a literal count; the SQL form
            # accepts a column
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {WORD_BITS} AS INT))"
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word_bits"))
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 2**20,
    n_hashes: int = 7,
    flag_col: str = "maybe_member",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-row membership verdict: true iff ALL ``n_hashes`` bits are
    set. The probe explodes each key to its positions, broadcast-joins
    the sparse word table (missing word ⇒ bit unset), and re-groups on
    the ORIGINAL ROW — corpus rows never shuffle beyond their own
    h-row fan-out, and the filter side is the only broadcast.

    No false negatives: a key that was built in always probes true.
    Duplicate input rows collapse to one output row (the group-back is
    on ``group_cols``, default all original columns); probe a table
    with a unique id column when multiplicity matters. At scale pass a
    NARROW ``group_cols`` (the id + key) — the group-back aggregate
    hashes on its keys, and dragging a wide text column through it
    costs shuffle bytes the verdict doesn't need.
    """
    marked = df.withColumn(
        "__pos", F.explode(_positions(F.col(key_col), m_bits, n_hashes))
    ).withColumn("__word_idx", (F.col("__pos") / WORD_BITS).cast("long"))
    joined = marked.join(
        F.broadcast(bloom),
        marked["__word_idx"] == bloom["word_idx"],
        "left",
    ).withColumn(
        "__hit",
        F.when(
            F.col("word_bits").isNotNull()
            & (
                F.col("word_bits").bitwiseAND(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), "
                        f"CAST(__pos % {WORD_BITS} AS INT))"
                    )
                )
                != 0
            ),
            1,
        ).otherwise(0),
    )
    keys = list(group_cols) if group_cols else [c for c in df.columns]
    if key_col not in keys:
        raise ValueError(f"group_cols must include key_col {key_col!r}")
    # member ⟺ every exploded position hit (== handles collapsed
    # duplicate rows too: k·h rows all need a hit, not just h)
    return (
        joined.groupBy(*keys)
        .agg((F.sum("__hit") == F.count("*")).alias(flag_col))
    )
