"""Deduplication operators — exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

The reference's archive is at-least-once (emit failure redelivers the
whole buffer, InjectableS3Emitter.java:56-59,73-76), so replayed
archives can carry duplicates; these operators clean them, and extend to
the large-scale training-data pipeline surface (near-duplicate document
removal).

Scale posture (the part that matters at 100 TB):

- **Never all-pairs.** Candidate generation is always a bucketed
  equi-join — MinHash LSH bands, SimHash pigeonhole blocks, or
  hyperplane sign buckets — so the only shuffles are hash-partitioned
  joins on band keys. Verification (exact Jaccard / Hamming / cosine)
  runs only on co-bucketed candidates.
- **No Python in the hot path.** Shingling, hashing, signatures, band
  hashes, Jaccard, Hamming and cosine are all Catalyst expressions
  (higher-order functions + ``xxhash64``): whole-stage codegen, no
  serialization to Python workers.
- **Deterministic winners.** Exact dedup keeps the min of an explicit
  tie-break column per content key (``dropDuplicates`` is
  first-row-wins under a nondeterministic scan order).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def cap_group_size(
    df: "DataFrame", group_cols: list[str], cap: int | None
) -> "DataFrame":
    """Drop every row belonging to a group with more than ``cap``
    members — the shared quadratic-blowup guard behind the LSH
    hot-band cap, the winnow hot-fingerprint cap, and the SemDeDup
    cluster-member cap. ``cap=None`` disables. The window count rides
    whatever exchange the caller's group key already needs; a future
    at-scale refinement (e.g. approximate pre-count) lands here once
    for all three."""
    if cap is None:
        return df
    w = Window.partitionBy(*group_cols)
    return (
        df.withColumn("__grp_n", F.count("*").over(w))
        .where(F.col("__grp_n") <= F.lit(cap))
        .drop("__grp_n")
    )


class CandidateBlowupError(RuntimeError):
    """Raised by the LSH candidate stage when the band-group candidate
    count exceeds the caller's ``candidate_budget`` — the circuit
    breaker that converts the measured sf100 footer-corpus failure
    (BASELINE r10 addendum 2: a ~300 GB candidate×shingle verification
    exchange filling the cluster's disk, ENOSPC) into a loud,
    immediate, actionable error instead of a dying cluster."""


def check_candidate_budget(
    counted: DataFrame, budget: int, context: str
) -> None:
    """Fail loudly if the banded frame's candidate-pair count exceeds
    ``budget``. ``counted`` carries ``__grp_n`` (the per-band-group
    member count the hot-band cap already computes); the total
    candidate count is Σ_groups C(n,2) = Σ_rows (n−1)/2 — one small
    aggregate riding the banding exchange, no pair materialization.
    The measured count and the production remediation go in the error
    (a guard that just says "too big" is half a guard)."""
    row = counted.agg(
        (F.sum(F.col("__grp_n") - 1) / 2).cast("long").alias("c")
    ).first()
    total = row["c"] or 0
    if total > budget:
        raise CandidateBlowupError(
            f"{context}: LSH band groups would generate {total:,} "
            f"candidate pairs (budget {budget:,}). On boilerplate-"
            "saturated corpora the verified near-dup path's candidate"
            "×shingle exchange grows super-linearly (measured ~300 GB "
            "/ ENOSPC at the sf100 footer corpus — BASELINE r10 "
            "addendum 2). Remediations, in production order: (1) run "
            "boilerplate/line dedup BEFORE near-dup (the "
            "llm_prep_spans_clean ordering — operators/linededup.py, "
            "BASELINE r11 addendum 5); (2) switch near_dup="
            "'lsh_components' (Θ(n·bands), no pair table); (3) resize "
            "bands via adaptive_minhash_bands or tighten "
            "band_member_cap; or raise candidate_budget deliberately."
        )


def content_key(*cols: str | Column) -> Column:
    """256-bit content hash over the given columns (collision-safe key
    for grouping at 100 TB — 64-bit hashes collide at ~4B rows).

    Null-safe: each column is tagged ``v<value>`` / ``n`` before
    joining, so a NULL key and an empty-string key digest differently
    (``concat_ws`` alone silently drops NULLs, merging the two
    groups)."""
    tagged = []
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        tagged.append(
            F.coalesce(F.concat(F.lit("v"), col.cast("string")), F.lit("n"))
        )
    return F.sha2(F.concat_ws("\x00", *tagged), 256)


def dedup_exact(
    df: DataFrame, key_cols: list[str], tie_col: str
) -> DataFrame:
    """Keep exactly one row per distinct ``key_cols`` value — the one
    with the smallest ``(tie_col, remaining columns)`` tuple
    (deterministic under any parallelism; with a unique ``tie_col``
    this is exactly min-tie).

    Digest-keyed group-min, NOT a window (r08 verdict): a
    ``row_number`` window partitioned by the raw key has two
    scale-killers — the shuffle ships the full key (e.g. an entire
    document text) as the exchange key, and a window partition is
    indivisible at runtime, so a key duplicated 10^6 times hot-spots
    one task with 10^6 full payloads. Here the shuffle key is the
    32-byte :func:`content_key` digest and the aggregate is map-side
    combinable: every mapper partition collapses each key to ONE
    surviving row BEFORE the exchange, so the hot key contributes at
    most one row per upstream partition to the shuffle.

    Requires every column of ``df`` to be orderable (no map columns) —
    the winner is ``min`` over the full-row struct, which is also what
    makes whole-row duplicates (replayed manifest rows) collapse to a
    single survivor even when ``tie_col`` ties.
    """
    others = [c for c in df.columns if c != tie_col]
    row = F.struct(F.col(tie_col), *[F.col(c) for c in others])
    winners = df.groupBy(content_key(*key_cols).alias("__ck")).agg(
        F.min(row).alias("__row")
    )
    return winners.select(
        *[F.col(f"__row.{c}").alias(c) for c in df.columns]
    )


# ---------------------------------------------------------------------------
# shingling (word and char n-grams) — pure Catalyst expressions
# ---------------------------------------------------------------------------


def tokens(text: str | Column, pattern: str = r"\s+") -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.split(col, pattern)


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram set from an ALREADY-PROJECTED token array.

    ``toks`` must be a bound attribute (a column projected in a prior
    select), not an inline ``split(...)`` expression: an expression
    child of the HOF lambda is re-evaluated PER ARRAY ELEMENT in
    interpreted mode — inlining the split made shingling ~3.5× slower
    (measured 2.05 s → 0.58 s per pass at sf0.1). CollapseProject keeps
    the split in its own projection because it is non-cheap and
    referenced more than once.
    """
    last = F.greatest(F.size(toks) - n, F.lit(0))  # 0-based start of last shingle
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), last),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def word_shingles(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram set. Docs shorter than ``n`` tokens yield a
    single whole-text shingle (mirrored in the DuckDB oracles).

    Convenience single-expression form; hot paths should project
    ``tokens(text)`` first and use :func:`word_shingles_from_tokens`
    (see that docstring for why)."""
    return word_shingles_from_tokens(tokens(text), n)


def char_shingles(text: str | Column, n: int = 4) -> Column:
    """Distinct character n-gram set (whitespace-insensitive near-dup
    signal; robust to tokenizer differences)."""
    col = F.col(text) if isinstance(text, str) else text
    last = F.greatest(F.length(col) - n + 1, F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), last),
            lambda i: F.substring(col, i, n),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays, in double."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union.cast("double")


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature_agg(
    with_shingles: DataFrame, id_col: str, num_hashes: int = 64
) -> DataFrame:
    """MinHash signatures via explode + groupBy-min — the scale path.

    ``explode(shingles)`` → ``min(xxhash64(i, s))`` x k is one shuffle
    keyed by ``id_col`` with full map-side partial aggregation (each
    input partition pre-reduces to ≤1 row per doc before exchange), and
    the exchange itself is the materialization barrier that keeps the
    downstream banding/self-join from re-evaluating the hashing work.
    Returns ``(id_col, h0..h{k-1})``.

    Negative result (r05 sf1.0 scale run), recorded so it isn't
    retried: an Arrow slab variant (numpy multiply-add-mod +
    ``minimum.reduceat`` per batch) measured ~15% faster in isolation
    but 1.6-2.5× SLOWER end-to-end in the pair pipeline — the
    signature is consumed immediately by banding, this agg's exchange
    is already a free materialization barrier, and the Python stage
    added two Arrow transfers of the full shingle-hash arrays. The
    vectorize-the-verify win that worked for embedding cosine does not
    transfer here.
    """
    import random

    # universal-hash family over ONE base string hash: h_i(s) =
    # (a_i * (xxhash64(s) & 0xFFFFFFFF) + b_i) mod p, p = 2^31 - 1
    # (prime). Hashing the string once and mixing with long
    # multiply-add-mod is ~10x cheaper than k string hashes per shingle;
    # the mod-prime wrap is what makes the k mins independent (without
    # it a_i*h+b_i is monotone in h and every h_i would pick the SAME
    # min shingle). 32-bit h x 31-bit a stays below 2^63: no ANSI
    # overflow.
    p = 2_147_483_647
    rng = random.Random(0x5EED)
    coeffs = [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)
    ]
    sh_rows = with_shingles.select(
        F.col(id_col), F.explode("shingles").alias("__s")
    ).select(
        F.col(id_col),
        F.xxhash64("__s").bitwiseAND(F.lit(0xFFFFFFFF)).alias("__h"),
    )
    return sh_rows.groupBy(id_col).agg(
        *[
            F.min(F.pmod(F.col("__h") * a + b, F.lit(p))).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )


DEFAULT_BAND_MEMBER_CAP = 1000


def adaptive_minhash_bands(
    n: int,
    j_noise: float,
    recall_j: float = 0.9,
    target_recall: float = 0.985,
    min_rows: int = 8,
    max_rows: int = 32,
    target_bucket: int = 16,
) -> tuple[int, int]:
    """Size MinHash LSH ``(num_hashes, bands)`` to corpus size ``n`` —
    the Jaccard twin of :func:`~kinesis_vcr_spark.operators.similarity.
    adaptive_hyperplane_lsh` (VERDICT r06 item 1, BASELINE.md finding
    7: the fixed 8-row default measured n^1.8 candidate growth on
    char-4-grams whose noise Jaccard sits just under the threshold —
    69× candidates at 10× docs, true pairs flat).

    A band of ``r`` rows collides on a noise pair with probability
    ``J_noise^r``, so fixed ``r`` costs Θ(bands · n² · J_noise^r) —
    quadratic eventually, for ANY constant ``r``. Choosing
    ``r = ceil(ln(n/target_bucket) / ln(1/J_noise))`` pins
    ``J_noise^r ≤ target_bucket/n``, making expected noise candidates
    Θ(n · bands · target_bucket/2) — linear with the O(log n) factor
    showing up as hash count instead of shuffle volume (hashing is the
    cheap, perfectly-parallel part; the candidate shuffle is the part
    that dies at scale). Band count then holds the recall floor via the
    standard S-curve: a pair at ``J = recall_j`` is missed by all bands
    with ``(1 - recall_j^r)^b ≤ 1 - target_recall``. Pairs between the
    verify threshold and ``recall_j`` get S-curve-degraded recall,
    exactly as with the fixed shapes this replaces (precision is always
    1.0 — candidates are verified with exact Jaccard).

    ``j_noise`` is corpus physics, not geometry, so unlike the
    hyperplane twin it must come from the caller: a measured constant
    of the (corpus family, shingling) pair — the high quantile (not
    the mean, since ``J^rows`` is convex) of exact pairwise Jaccard
    over a fixed-size document sample.

    At the driver fixture sizes (n ≤ ~5000 documents, char-4-gram
    J_noise ≈ 0.45) this reduces exactly to the historical 8 bands ×
    8 rows = 64 hashes, so small-scale results and the DuckDB oracle
    rows are unchanged; growth from there is rows ∝ log n with bands
    following the recall floor (sf0.1 → 12×11, sf10 → 21×16).
    """
    if not 0.0 < j_noise < 1.0:
        raise ValueError("j_noise must be in (0, 1)")
    if not j_noise < recall_j <= 1.0:
        raise ValueError("recall_j must be in (j_noise, 1]")
    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    rows = min(
        max_rows,
        max(
            min_rows,
            math.ceil(
                math.log(max(n, 2) / target_bucket) / math.log(1.0 / j_noise)
            ),
        ),
    )
    p_band = recall_j**rows
    bands = max(
        1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    )
    return rows * bands, bands


def _candidate_pairs_from_bands(
    banded: DataFrame,
    id_col: str,
    band_member_cap: int | None = DEFAULT_BAND_MEMBER_CAP,
    num_partitions: int | None = None,
    candidate_budget: int | None = None,
    budget_context: str = "near_dup_pairs",
) -> DataFrame:
    """(id, band_array) → distinct candidate (id_a, id_b) pairs that
    collide in ≥1 band. The join key is (band position, band hash):
    an equi-join Catalyst hash-partitions — this is the step that keeps
    the operator o(n²) at scale.

    ``band_member_cap`` drops bands with more than that many members
    before the self-join: on boilerplate-heavy corpora one band value
    shared by millions of docs would go quadratic WITHIN the band
    (10^6 members → 5·10^11 candidate pairs from a single bucket —
    VERDICT r02's 100 TB risk). Recall impact: a pair inside a dropped
    mega-band is still found through any of its other bands; truly
    boilerplate-identical docs collide in ALL bands, which is exactly
    when exact-dedup (cheap, runs first in a pipeline) should own them
    instead. ``None`` disables the cap.

    ``num_partitions`` pins the self-join's parallelism
    (REPARTITION_BY_NUM survives AQE coalescing). Set it when the
    join's OUTPUT or downstream per-pair work dwarfs its input — a
    few-MB band table otherwise coalesces to a handful of tasks that
    then own all the pair generation (the r05 fuzzy-join finding:
    whole verify stage on 1 task). ``None`` keeps AQE's byte-based
    sizing, which is right when pair output is small.

    ``candidate_budget`` arms the blowup circuit breaker
    (:func:`check_candidate_budget`): BEFORE the self-join runs, the
    per-band-group counts (already computed for the hot-band cap) are
    summed into the would-be candidate-pair total and
    :class:`CandidateBlowupError` is raised — with the measured count
    and the remediation list — if it exceeds the budget. Cost when
    armed: one extra linear pass over the banding lineage (the eager
    count job re-executes shingle→signature→band once); the protection
    is an O(n) pass traded against an ENOSPC'd cluster. ``None``
    (default) keeps the stage fully lazy.
    """
    exploded = banded.select(
        F.col(id_col),
        F.posexplode("bands").alias("band_pos", "band_hash"),
    )
    if num_partitions is None:
        exploded = exploded.repartition("band_pos", "band_hash")
    else:
        exploded = exploded.repartition(
            num_partitions, "band_pos", "band_hash"
        )
    # ^ this is the exchange the self-join needs anyway (no extra
    # shuffle; ReuseExchange shares it across both sides) AND a
    # materialization barrier so band-hash expressions are computed once,
    # not re-inlined into join codegen.
    # same partition keys as the repartition above → the window count
    # rides the existing exchange, no extra shuffle
    if candidate_budget is not None:
        w = Window.partitionBy("band_pos", "band_hash")
        counted = exploded.withColumn("__grp_n", F.count("*").over(w))
        if band_member_cap is not None:
            counted = counted.where(
                F.col("__grp_n") <= F.lit(band_member_cap)
            )
        # the breaker's eager count is a full pass over the banding
        # lineage (shingle → signature → band → exchange); persist the
        # counted band rows so that pass MATERIALIZES them and the
        # self-join below reads the cache instead of recomputing the
        # whole lineage a second time (measured at sf0.1: the armed
        # path repeated ~the entire banding cost). The band table is
        # Θ(n·bands) id+hash rows, far smaller than the text/shingle
        # lineage it shields.
        counted = hold("candidate_pairs_from_bands", counted)
        check_candidate_budget(counted, candidate_budget, budget_context)
        exploded = counted.drop("__grp_n")
    else:
        exploded = cap_group_size(
            exploded, ["band_pos", "band_hash"], band_member_cap
        )
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_pos") == F.col("r.band_pos"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    char_ngrams: bool = False,
) -> DataFrame:
    """``(id_col, shingles)`` — the canonical shingle projection shared
    by the pair pipeline and the persisted index (identical expression
    → identical sets → identical signatures on both paths)."""
    if char_ngrams:
        # text is already a bound attribute — substring-per-element is
        # the inherent cost, no re-evaluation hazard
        return df.select(
            F.col(id_col),
            char_shingles(text_col, shingle_size).alias("shingles"),
        )
    # two-step projection: tokenize once per row, THEN shingle —
    # see word_shingles_from_tokens for the 3.5× interpreted-HOF trap
    return df.select(F.col(id_col), tokens(text_col).alias("__toks")).select(
        F.col(id_col),
        word_shingles_from_tokens(F.col("__toks"), shingle_size).alias(
            "shingles"
        ),
    )


def band_frame(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id_col, bands array<long>)`` from a
    :func:`minhash_signature_agg` output — one xxhash64 per contiguous
    ``rows``-slice of the signature columns. Shared by the pair
    pipeline and the persisted index so band hashes are comparable
    across both."""
    rows = num_hashes // bands
    return sigs.select(
        id_col,
        F.array(
            *[
                F.xxhash64(
                    F.array(*[F.col(f"h{b * rows + r}") for r in range(rows)])
                )
                for b in range(bands)
            ]
        ).alias("bands"),
    )


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    char_ngrams: bool = False,
    band_member_cap: int | None = DEFAULT_BAND_MEMBER_CAP,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, verified by exact Jaccard.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and
    ``jaccard >= threshold``. Recall: P(candidate | J) =
    1-(1-J^rows)^bands; at the default 16 bands x 4 rows a J=0.8 pair is
    missed with p≈0.0013, J=0.95 with p≈4e-13. Candidates are verified
    exactly, so precision is 1.0 by construction.

    Plan shape: shingle+signature (narrow) → posexplode bands →
    self-equi-join on (band_pos, band_hash) → distinct pairs → two
    hash-joins back to the shingle sets → exact-Jaccard filter. Four
    shuffles total, all on keys; no cross join anywhere.

    Noise-band caveat (measured, r06 sf10 rung — BASELINE.md finding
    7): when the corpus's pairwise noise Jaccard sits just under
    ``threshold``, band collisions become noise-driven and candidate
    volume grows super-linearly even though true output stays flat
    (char-4-grams over a narrow vocabulary measured 69× candidates at
    10× docs, output ~flat). The implemented mitigation is
    :func:`adaptive_minhash_bands`: size ``(num_hashes, bands)`` from
    the corpus count and a measured ``j_noise`` so noise candidates stay
    Θ(n·bands) — hash count grows O(log n) instead of shuffle volume
    growing n². Cheaper fallbacks when re-sizing is off the table:
    tighter ``band_member_cap``; higher threshold.

    ``candidate_budget`` arms the blowup circuit breaker: the stage
    counts its would-be candidate pairs (one aggregate on the banding
    exchange) and raises :class:`CandidateBlowupError` — measured
    count + remediations — instead of materializing a cluster-filling
    verification exchange (the sf100 footer-corpus ENOSPC, BASELINE
    r10 addendum 2). Costs one extra linear pass when armed.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    with_sh = shingle_frame(df, id_col, text_col, shingle_size, char_ngrams)
    sigs = minhash_signature_agg(with_sh, id_col, num_hashes)
    banded = band_frame(sigs, id_col, num_hashes, bands)
    pairs = _candidate_pairs_from_bands(
        banded, id_col, band_member_cap,
        candidate_budget=candidate_budget,
        budget_context="near_dup_pairs_minhash",
    )
    sh_a = with_sh.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = with_sh.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash64_agg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash via explode + groupBy — the scale path (same rationale as
    :func:`minhash_signature_agg`: map-side partial sums, one shuffle by
    id, shuffle output materializes the signature). Returns
    ``(id_col, simhash)``: per bit, the sign of the ±1 sum over the
    xxhash64 of every token."""
    tok_rows = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).select(F.col(id_col), F.xxhash64("__t").alias("__h"))
    sums = tok_rows.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sim = sim.bitwiseOR(
            F.when(
                F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    return sums.select(F.col(id_col), sim.alias("simhash"))


def near_dup_pairs_hash64(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs at Hamming distance ≤ ``max_hamming`` over ANY
    precomputed 64-bit signature column — the pigeonhole engine shared
    by SimHash text dedup and perceptual image dedup
    (operators/phash.py).

    Pigeonhole blocking: split the 64-bit hash into ``blocks``
    equal-width blocks; any pair within distance ``blocks - 1`` must
    agree exactly on ≥1 block, so candidates come from an equi-join on
    (block index, block value) — never all-pairs. ``max_hamming`` must
    be < ``blocks`` for exact recall.

    Returns ``(id_a, id_b, hamming)``.
    """
    if max_hamming >= blocks:
        raise ValueError("max_hamming must be < blocks for exact recall")
    width = SIMHASH_BITS // blocks
    mask = (1 << width) - 1
    blocked = hashes.select(
        id_col,
        F.col(hash_col).alias("__h64"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.shiftright(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "__h64", "blk.block_idx", "blk.block_val")
    left = blocked.alias("l")
    right = blocked.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.block_idx") == F.col("r.block_idx"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.__h64").alias("sim_a"),
            F.col("r.__h64").alias("sim_b"),
        )
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        hamming64(F.col("sim_a"), F.col("sim_b")).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def near_dup_pairs_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``
    (the text instantiation of :func:`near_dup_pairs_hash64`; plan and
    results unchanged by the r10 refactor — the block explode/join is
    the same expression tree).

    Returns ``(id_a, id_b, hamming)``.
    """
    sims = simhash64_agg(df, id_col, text_col)
    return near_dup_pairs_hash64(
        sims, id_col, "simhash", max_hamming, blocks
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (delegates bucketing to similarity.py)
# ---------------------------------------------------------------------------


def near_dup_pairs_embedding(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int | None = None,
    bands: int | None = None,
    band_member_cap: int | None = DEFAULT_BAND_MEMBER_CAP,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Near-dup pairs with cosine ≥ threshold, candidates from
    random-hyperplane LSH sign buckets (see
    :mod:`kinesis_vcr_spark.operators.similarity` for the hyperplane
    machinery). Returns ``(id_a, id_b, cosine)``.

    P(two vectors agree on one sign bit) = 1 - θ/π; at cosine ≥ 0.95
    (θ ≤ 18.2°) an 8-bit band matches with p ≈ 0.43 and ≥1 of 6 bands
    with p ≈ 0.96; verification is exact so precision is 1.0. Band
    width is the bucket-granularity knob: by default it is sized to the
    corpus via :func:`adaptive_hyperplane_lsh` (expected random bucket
    ≈ 16 members → candidate count Θ(n·bands) instead of the Θ(n²) a
    fixed width costs; at driver-fixture sizes the formula reproduces
    the historical 8-bit × 6-band shape exactly). Pass explicit
    ``planes``/``bands`` to pin a shape.
    """
    from kinesis_vcr_spark.operators.similarity import (
        adaptive_hyperplane_lsh,
        hyperplane_band_values,
        pandas_cosine,
    )

    if (planes is None) != (bands is None):
        # silently recomputing BOTH adaptively would discard the one
        # the caller pinned (ADVICE r05)
        raise ValueError(
            "pass both planes and bands to pin the LSH shape, or "
            f"neither for adaptive sizing (got planes={planes}, "
            f"bands={bands})"
        )
    if planes is None:
        # one cheap count job (parquet metadata / cached lineage) buys
        # the linear-candidate guarantee above
        planes, bands = adaptive_hyperplane_lsh(df.count(), threshold)

    # banding via the vectorized Pandas UDF on raw vectors (sign is
    # normalization-invariant); ArrowEvalPython materializes the band
    # column so the explode/self-join never re-evaluate it.
    banded = df.select(
        F.col(id_col),
        hyperplane_band_values(F.col(vec_col), planes, bands).alias("bands"),
    )
    pairs = _candidate_pairs_from_bands(
        banded, id_col, band_member_cap,
        candidate_budget=candidate_budget,
        budget_context="near_dup_pairs_embedding",
    )
    # verify join carries RAW vectors (float32 — half the shuffle bytes
    # of unit doubles); pandas_cosine normalizes + scores per Arrow
    # batch, bit-identical to the HOF unit_double/cosine path.
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b", pandas_cosine(F.col("v_a"), F.col("v_b")).alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# verification-free LSH dedup (band-group components)
# ---------------------------------------------------------------------------


def lsh_band_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    char_ngrams: bool = False,
) -> DataFrame:
    """Dedup components DIRECTLY from MinHash band groups — no
    candidate pairs, no exact-Jaccard verification: two documents land
    in one component iff they are connected through chains of shared
    (band_pos, band_hash) values. Returns ``(node, component)`` for
    every input id (singletons are their own root).

    This is the production-scale posture of the big public corpus
    dedups (the SlimPajama / BigCode-style MinHash pipelines): the
    verified-pair path (:func:`near_dup_pairs_minhash`) materializes
    Θ(Σ group²) candidate rows each carrying both shingle sets, which
    a boilerplate-saturated corpus turns super-linear — measured on
    the footer-planted spans corpus at 1.77 M candidates (sf1) →
    34.4 M (sf10) → an extrapolated ~0.5 G × 520 B ≈ 300 GB
    verification exchange at sf100 (BASELINE r10 addendum 2). Here a
    band group of m members contributes m−1 ANCHOR EDGES
    (min-id member ↔ member) instead of m²/2 pairs, so the whole flow
    is Θ(n·bands) rows end to end and needs no member cap at all —
    the pathological corpus costs the same per document as a clean
    one.

    The trade is precision, stated rather than hidden: a band
    collision between dissimilar documents merges their components
    with NO exact check (P(single-band collision | J) = J^rows, e.g.
    J=0.3 at 4 rows → 0.8% per band, union-bounded ~12% at 16 bands —
    size (num_hashes, bands) DOWN for precision with
    :func:`adaptive_minhash_bands` when using this path). Recall
    dominates pair-LSH (connectivity needs any shared band along any
    chain). Use the verified path when the contract is "all pairs at
    J ≥ t, precision 1.0"; use this when the contract is "drop
    near-dup clusters at corpus scale".

    PERCOLATION WARNING (measured, BASELINE r10 addendum 5): because
    merges chain without verification, collision DENSITY compounds
    with corpus size — on the footer-saturated spans corpus the kept
    fraction vs the verified pipeline collapsed 95% (sf0.01) → 35%
    (sf10) → 0.02% (sf100): one giant component swallowed the corpus.
    This path is sound AFTER boilerplate stripping (dedup_lines /
    html boilerplate removal — the C4 ordering, which also restores
    the VERIFIED path's candidate volume to sub-plain-corpus levels:
    320 vs 404 candidates at sf1), or with (num_hashes, bands) sized
    so expected band-group degree stays below the giant-component
    threshold. Do not point it at a raw crawl and trust the roots.

    Determinism: signatures, band hashes, anchors and component roots
    (min id) are all deterministic — two runs agree bit-for-bit, and
    the planted-twin driver query (identical text ⇒ identical
    signature ⇒ co-membership certain) is an exact oracle.
    """
    from kinesis_vcr_spark.operators.components import connected_components

    with_sh = shingle_frame(df, id_col, text_col, shingle_size, char_ngrams)
    sigs = minhash_signature_agg(with_sh, id_col, num_hashes)
    banded = band_frame(sigs, id_col, num_hashes, bands).select(
        F.col(id_col).alias("__id"),
        F.posexplode("bands").alias("band_pos", "band_hash"),
    )
    # `banded` feeds TWO consumers — the anchor aggregation and the
    # member⋈anchor join — whose exchange children differ (partial agg
    # vs plain project), so ReuseExchange cannot share them and the
    # shingle→signature pipeline executes twice in the edges job.
    # MEASURED r14 (volatile-rig protocol, isolated at sf1, 12
    # alternating reps): persisting the Θ(n·bands) band rows to share
    # the pass is a dead wash (medians 14.15 s no-persist vs 14.35 s
    # persisted; adjacent pairs mixed) — the cache materialization
    # costs what the saved signature pass saves. Left unpersisted; do
    # not re-try without a rig where the banding pass provably
    # dominates the band-table write.
    anchors = banded.groupBy("band_pos", "band_hash").agg(
        F.min("__id").alias("__anchor")
    )
    # the hot-group join is linear: m member rows meet 1 anchor row per
    # group, so even a corpus-wide boilerplate group costs one task m
    # rows — the m²/2 blowup this operator exists to avoid never forms
    edges = (
        banded.join(anchors, ["band_pos", "band_hash"])
        .where(F.col("__id") != F.col("__anchor"))
        .select(
            F.col("__anchor").alias("src"), F.col("__id").alias("dst")
        )
        .distinct()
    )
    comp = connected_components(edges, "src", "dst")
    # singletons (no shared band with anyone) are their own component
    return (
        df.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


# ---------------------------------------------------------------------------
# quality-weighted dedup winner (E104)
# ---------------------------------------------------------------------------


def keep_best_per_component(
    docs: DataFrame,
    comp: DataFrame,
    id_col: str,
    score_col: str,
    node_col: str = "node",
    component_col: str = "component",
) -> DataFrame:
    """One surviving row per near-dup component: the member with the
    HIGHEST ``score_col`` (ties: smallest id) — the production winner
    rule. Min-id winners (``llm_prep_corpus``'s default) are the right
    DETERMINISM baseline, but a crawl group of near-identical pages
    usually contains one clean copy and N boilerplate-mangled ones;
    keeping the best-quality representative is what RefinedWeb/CCNet-
    style pipelines actually do. Docs not in any component pass
    through untouched (their own winner).

    Plan: one id-keyed join of the component labels onto the docs (the
    label table is near-dup-involved docs only — usually a small
    fraction of the corpus), then the skew-safe two-phase top-1 per
    component (``topk_per_group`` — a window over raw components would
    hot-spot on a boilerplate mega-group). No vector/text shuffle
    beyond the winner rows.
    """
    from kinesis_vcr_spark.operators.topk import (  # noqa: PLC0415
        topk_per_group,
    )

    labeled = docs.join(
        comp.select(
            F.col(node_col).alias(id_col),
            F.col(component_col).alias("__comp"),
        ),
        id_col,
        "left",
    ).withColumn(
        "__comp", F.coalesce(F.col("__comp"), F.col(id_col))
    )
    winners = topk_per_group(
        labeled,
        key_cols=["__comp"],
        order_by=[F.col(score_col).desc(), F.col(id_col)],
        k=1,
    )
    return winners.withColumnRenamed("__comp", component_col)


def near_dup_pairs_minhash_bipartite(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    text_col: str = "text",
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.6,
    char_ngrams: bool = False,
    band_member_cap: int | None = DEFAULT_BAND_MEMBER_CAP,
) -> DataFrame:
    """Cross-corpus near-duplicate pairs (E107, r12): MinHash-LSH
    candidates between TWO tables, verified by exact Jaccard — the
    bipartite twin of :func:`near_dup_pairs_minhash`. Returns
    ``(left_id, right_id, jaccard)`` with jaccard ≥ threshold.

    This is the candidate machine behind fuzzy decontamination (a
    corpus probed against a benchmark set — Llama-style fuzzy overlap
    where exact n-gram decontam misses lightly-edited copies) and
    cross-corpus record linkage. Same signature/band expressions as
    the self-join path (shingle_frame/minhash_signature_agg/band_frame
    are shared, so signatures are comparable across both), but the
    join is an EQUI-JOIN between the two banded tables — when one side
    is benchmark-sized the band join broadcasts it and the corpus
    never shuffles; the hot-band cap applies per side.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if left_id == right_id:
        raise ValueError(
            "left_id and right_id must differ (rename one side: the "
            "output carries both)"
        )
    sides = []
    for df, idc in ((left, left_id), (right, right_id)):
        with_sh = shingle_frame(df, idc, text_col, shingle_size, char_ngrams)
        sigs = minhash_signature_agg(with_sh, idc, num_hashes)
        banded = band_frame(sigs, idc, num_hashes, bands).select(
            idc, F.posexplode("bands").alias("band_pos", "band_hash")
        )
        banded = cap_group_size(
            banded, ["band_pos", "band_hash"], band_member_cap
        )
        sides.append((with_sh, banded))
    (sh_l, band_l), (sh_r, band_r) = sides
    cand = (
        band_l.join(band_r, ["band_pos", "band_hash"])
        .select(left_id, right_id)
        .distinct()
    )
    return (
        cand.join(
            sh_l.select(F.col(left_id), F.col("shingles").alias("__sh_l")),
            left_id,
        )
        .join(
            sh_r.select(F.col(right_id), F.col("shingles").alias("__sh_r")),
            right_id,
        )
        .select(
            left_id,
            right_id,
            jaccard(F.col("__sh_l"), F.col("__sh_r")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
