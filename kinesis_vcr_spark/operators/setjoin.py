"""Exact set-similarity self-join — prefix filtering (AllPairs/PPJoin).

The exact-recall counterpart to the MinHash-LSH near-dup path
(operators/dedup.py): banded LSH can MISS true pairs (recall is
probabilistic); prefix filtering guarantees that EVERY pair with
Jaccard ≥ t is produced, with no all-pairs comparison. This is the
AllPairs / PPJoin family (Bayardo et al., WWW'07; Xiao et al.,
WWW'08 — public literature), the standard exact algorithm for
similarity joins at scale.

Why it is exact: order every document's token set by a single GLOBAL
token order (ascending document frequency, ties by token). If
J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so A cannot skip its first
|A| − ⌈t·|A|⌉ + 1 tokens without losing the intersection bound —
any qualifying pair must collide on at least one token inside BOTH
prefixes. Candidates = equi-join on prefix tokens, then PPJoin's
positional filter: both token lists are sorted by the same global
order, so at the pair's first (minimum-rank) shared token — position
i in A, j in B — every other shared token sits strictly after both,
hence overlap ≤ 1 + min(|A|−i, |B|−j); prune pairs whose earliest
collision can't reach the required overlap
α = ⌈pct·(|A|+|B|)/(100+pct)⌉ (measured 32.4M → 15.0M candidates at
sf1.0). Verification computes the exact intersection.

All threshold arithmetic is INTEGER (threshold as a percent): prefix
length ``sz − ceil(sz·pct/100) + 1`` via integer division, α as
above, and the final test ``100·|A∩B| ≥ pct·|A∪B|`` — no float
boundary disagreement between engines, ever.

Scale posture: rarest-first global ordering puts only each document's
LOWEST-frequency tokens in its prefix, so stopword-sized posting
lists never generate candidates — the candidate join is naturally
skew-resistant (the classic reason AllPairs beats naive token
inverted-index joins by orders of magnitude). The frequency table is
vocabulary-sized. Verification intersects per-document token-id
ARRAYS of dense ints (3-5× less shuffle/broadcast bytes and cheaper
comparisons than string tokens — 40 s → 7 s at sf1.0); the id
assignment is one vocabulary-sized sort. Only the SKINNY exploded
token table is persisted (it feeds four branches), never the fat
array form. Candidate verification is still inherently quadratic in
near-miss pairs — at web scale, raise the threshold or use the LSH
path when approximate recall is acceptable; this operator is the
exactness anchor.

Measured candidate curve (r06 sf10 rung, BASELINE.md finding 6):
when the threshold sits at or below the corpus's noise Jaccard band,
prefix collisions are PURE n² — 430 k → 44.5 M → 4.73 G candidate
pairs at 5 k → 50 k → 500 k docs of the 31-word synthetic fixture at
pct=50 (≈190 GB of candidate shuffle at the top rung: disk
exhaustion, not a plan defect — no plan fixes a quadratic candidate
set). The same corpus at pct=80 (above the noise band) completes the
500 k-doc rung in ~4 minutes with 3 064 pairs. Pick the threshold
relative to the corpus's pairwise-similarity noise floor, not in the
abstract.

Reference anchor: no counterpart in the reference (record/replay
tool); SURVEY.md §2.5a E-series (dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold


def jaccard_join_exact(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold_pct: int,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` with token-set Jaccard ≥
    ``threshold_pct``/100 — exact, guaranteed-complete.

    ``tokens_col`` is an array column (duplicates tolerated — sets are
    taken). Returns ``(id_a, id_b, inter, uni, jaccard)`` with exact
    bigint intersection/union sizes and ``jaccard`` rounded to 6 dp.
    Empty token sets never pair (Jaccard undefined).

    Verification broadcasts the id→token-array table onto the
    candidate pairs — measured 10× at sf0.1 (left to itself Catalyst
    broadcast the much larger candidate side) — and intersects dense
    int64 token ids from one vocabulary-sized single-partition sort:
    any per-run bijection preserves intersection counts, and a
    deterministic one is safe under stage retry.
    """
    if not 0 < threshold_pct <= 100:
        raise ValueError(f"threshold_pct in (0, 100], got {threshold_pct}")
    # held: the skinny exploded token table feeds FOUR branches
    # (frequency table, prefix build, and both verification sides);
    # the upstream tokenization (often a shingle transform over the
    # full corpus) must run exactly once. Deliberately NOT the fat
    # array form — 3 skinny columns cache/scan far cheaper.
    toks = hold(
        "jaccard_join_exact_tokens",
        df.select(
            F.col(id_col).alias("__id"),
            F.array_distinct(F.col(tokens_col)).alias("__toks"),
        ).select(
            "__id",
            F.explode("__toks").alias("__tok"),
            F.size("__toks").alias("__sz"),
        ),
    )
    dfreq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    # prefix = the (sz - ceil(sz*pct/100) + 1) globally-rarest tokens;
    # ceil via pure integer division (no float boundary)
    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    plen = (
        F.col("__sz")
        - F.expr(f"(__sz * {threshold_pct} + 99) div 100")
        + 1
    )
    # held: `pref` is BOTH sides of the candidate self-join; the
    # frequency join + per-doc window sort otherwise run twice
    pref = hold(
        "jaccard_join_exact_prefix",
        toks.join(dfreq, "__tok")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= plen)
        .select("__id", "__tok", "__sz", "__rn"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    collisions = a.join(
        b,
        (F.col("a.__tok") == F.col("b.__tok"))
        & (F.col("a.__id") < F.col("b.__id")),
    ).where(
        # length filter: J >= pct/100 forces pct*max(sz) <= 100*min(sz)
        (F.greatest("a.__sz", "b.__sz") * threshold_pct)
        <= (F.least("a.__sz", "b.__sz") * 100)
    )
    # positional filter (see module docstring); the groupBy doubles as
    # the pair dedup (no separate distinct)
    pairs = collisions.groupBy(
        F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
    ).agg(
        F.min("a.__rn").alias("__ia"),
        F.min("b.__rn").alias("__jb"),
        F.max("a.__sz").alias("__sa"),
        F.max("b.__sz").alias("__sb"),
    )
    alpha = F.expr(
        f"({threshold_pct} * (__sa + __sb) + {100 + threshold_pct} - 1)"
        f" div {100 + threshold_pct}"
    )
    cands = pairs.where(
        F.lit(1)
        + F.least(
            F.col("__sa") - F.col("__ia"), F.col("__sb") - F.col("__jb")
        )
        >= alpha
    ).select("id_a", "id_b")

    # verification sets: per-doc arrays of dense int token ids; element
    # order is irrelevant to array_intersect, duplicates impossible
    # (exploded from a distinct array)
    tokid = dfreq.select(
        "__tok",
        F.row_number()
        .over(Window.orderBy("__df", "__tok"))
        .alias("__tid"),
    )
    elems = toks.join(F.broadcast(tokid), "__tok").select(
        "__id", F.col("__tid").alias("__e"), "__sz"
    )
    iset = elems.groupBy("__id").agg(
        F.collect_list("__e").alias("__set"), F.max("__sz").alias("__n")
    )
    ta = F.broadcast(iset.select(
        F.col("__id").alias("id_a"),
        F.col("__set").alias("__ta"),
        F.col("__n").alias("__na"),
    ))
    tb = F.broadcast(iset.select(
        F.col("__id").alias("id_b"),
        F.col("__set").alias("__tb"),
        F.col("__n").alias("__nb"),
    ))
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("long")
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("inter", inter)
        .withColumn(
            "uni",
            (F.col("__na") + F.col("__nb")).cast("long") - F.col("inter"),
        )
        .where(F.col("inter") * 100 >= F.col("uni") * threshold_pct)
        .select(
            "id_a",
            "id_b",
            "inter",
            "uni",
            F.round(
                F.col("inter").cast("double") / F.col("uni").cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
