"""Unigram language-model scoring — the CCNet-style perplexity filter.

CCNet (Wenzek et al. 2019) buckets web documents by language-model
perplexity: text far from the reference distribution is boilerplate,
gibberish, or spam. The full KenLM 5-gram is a model artifact; the
*pipeline-shaped* part — train token statistics over a huge corpus,
then score every document by its mean per-token negative log
likelihood — is exactly a Spark aggregation problem, and a smoothed
unigram LM already separates natural text from noise well enough to
be a useful first-pass filter.

Two stages, both scale-clean:

- **train**: explode → ``groupBy(token)`` count (map-side combined; the
  result is vocabulary-sized, orders of magnitude smaller than the
  corpus) + one 1-row total. Add-α smoothing:
  ``p(t) = (c_t + α) / (N + α·V)``.
- **score**: broadcast-join the NLL table back onto the exploded
  corpus (vocab ≪ broadcast threshold; the corpus side never
  shuffles for the lookup), then one map-side-combinable
  ``groupBy(doc)``.

Exactness discipline (same recipe as ``operators/classify.py``): the
sole float op, ``ln``, happens ONCE per *distinct token* and is
immediately fixed to integer micro-nats; per-document totals are then
exact bigint sums — order-independent and engine-identical, so the
DuckDB oracle reproduces every score digit-for-digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _tokens(df: DataFrame, id_col: str, text_col: str, *extra: str) -> DataFrame:
    return df.select(
        id_col, *extra, F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).where(F.length("token") > 0)


def unigram_nll_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """(token, nll_micro) — per-token negative log likelihood of the
    add-α-smoothed unigram LM, in integer micro-nats.

    ``nll_micro = round(ln((N + α·V) / (c + α)) · 1e6)`` where N =
    corpus token count, V = vocabulary size. Vocabulary-sized output.
    """
    counts = (
        _tokens(df, id_col, text_col)
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("v_size")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "token",
            F.round(
                F.log(
                    (F.col("n_total") + F.lit(alpha) * F.col("v_size"))
                    / (F.col("c") + F.lit(alpha))
                )
                * MICRO
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )


def score_documents_lm(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm: DataFrame | None = None,
    oov_nll_micro: int | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document LM score: ``id_col, n_tokens, nll_micro_total``
    (exact bigint) and ``avg_nll`` (mean per-token nats, 6 dp).

    ``lm=None`` trains on ``df`` itself (self-scoring: every token is
    in-vocabulary, the CCNet "score the corpus by its own statistics"
    mode). An external ``lm`` table needs ``oov_nll_micro`` — the
    penalty for unseen tokens (ln((N + α·V)/α) of the training corpus);
    passing an external lm without it raises rather than silently
    scoring OOV as free.
    """
    if lm is None:
        lm = unigram_nll_table(df, id_col, text_col, alpha=alpha)
        oov = F.lit(None).cast("long")  # unreachable: self-trained
    else:
        if oov_nll_micro is None:
            raise ValueError("external lm requires oov_nll_micro")
        oov = F.lit(int(oov_nll_micro)).cast("long")
    toks = _tokens(df, id_col, text_col)
    contrib = toks.join(F.broadcast(lm), "token", "left").select(
        id_col, F.coalesce("nll_micro", oov).alias("nll_micro")
    )
    agg = contrib.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum("nll_micro").alias("nll_micro_total"),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "nll_micro_total",
        F.round(
            F.col("nll_micro_total")
            / (F.col("n_tokens").cast("double") * MICRO),
            6,
        ).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM — one order up from the unigram filter
# ---------------------------------------------------------------------------

#: document-start pseudo-token (STX control char: cannot appear in
#: whitespace-split tokens of sane text; DuckDB spells it chr(2))
BOS = "\u0002"

#: Jelinek-Mercer interpolation weight on the bigram MLE term; the
#: remaining mass goes to the add-α unigram, so unseen-in-context
#: tokens are never scored as impossible. 0.7/0.3 parse to identical
#: doubles in Spark and DuckDB (decimal literals must be CAST to
#: DOUBLE on the DuckDB side — its native decimal arithmetic would
#: diverge from double).
LAMBDA_BIGRAM = 0.7


def bigram_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, prev, token) — one row per token with its left context,
    document starts anchored to BOS.

    Built entirely from array ops on the split column (filter empties →
    shift-by-one zip → explode): a narrow projection, no window sort and
    no extra shuffle — per-doc adjacency never needs cross-row state.
    """
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: F.length(t) > 0
    )
    return (
        df.select(F.col(id_col).alias(id_col), toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            id_col,
            F.explode(
                F.arrays_zip(
                    F.concat(
                        F.array(F.lit(BOS)),
                        F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    ).alias("prev"),
                    F.col("toks").alias("token"),
                )
            ).alias("pair"),
        )
        .select(id_col, F.col("pair.prev").alias("prev"),
                F.col("pair.token").alias("token"))
    )


def bigram_nll_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = LAMBDA_BIGRAM,
    alpha: float = 1.0,
) -> DataFrame:
    """(prev, token, nll_micro) for every bigram seen in ``df``:
    ``-ln(λ·c(p,w)/c(p·) + (1-λ)·(c(w)+α)/(N+α·V))`` in integer
    micro-nats.

    Same exactness discipline as :func:`unigram_nll_table`: the single
    ``ln`` fires once per DISTINCT bigram (bigram-vocabulary-sized
    table, far smaller than the corpus) and is immediately fixed to a
    bigint, so downstream per-document totals are order-independent
    exact sums that DuckDB reproduces digit-for-digit. The float
    expression is written in the exact same association order as the
    oracle SQL — ``(λ·c_pw)/c_p + ((1-λ)·(c_w+α))/(N+α·V)`` — because
    double arithmetic is not associative.
    """
    pairs = bigram_pairs(df, id_col, text_col)
    c_pw = pairs.groupBy("prev", "token").agg(F.count("*").alias("c_pw"))
    c_p = c_pw.groupBy("prev").agg(F.sum("c_pw").alias("c_p"))
    # every token occurs exactly once as a pair's right element, so the
    # unigram statistics fall out of the same pairs frame
    uni = pairs.groupBy("token").agg(F.count("*").alias("c_w"))
    totals = uni.agg(
        F.sum("c_w").alias("n_total"), F.count("*").alias("v_size")
    )
    p_bi = F.lit(float(lam)) * F.col("c_pw") / F.col("c_p")
    p_uni = (
        F.lit(1.0 - float(lam))
        * (F.col("c_w") + F.lit(float(alpha)))
        / (F.col("n_total") + F.lit(float(alpha)) * F.col("v_size"))
    )
    return (
        c_pw.join(c_p, "prev")
        .join(uni, "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "prev",
            "token",
            (-F.round(F.log(p_bi + p_uni) * MICRO))
            .cast("long")
            .alias("nll_micro"),
        )
    )


def score_documents_bigram(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = LAMBDA_BIGRAM,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document interpolated-bigram score: ``id_col, n_tokens,
    nll_micro_total`` (exact bigint) + ``avg_nll`` (nats/token, 6 dp).

    Self-scoring (CCNet "score the corpus by its own statistics" mode):
    every scored bigram exists in the table by construction, so the
    join is total — no OOV path. The table broadcasts onto the pairs,
    and the per-document aggregate is map-side combinable.
    """
    lm = bigram_nll_table(df, id_col, text_col, lam=lam, alpha=alpha)
    pairs = bigram_pairs(df, id_col, text_col)
    agg = (
        pairs.join(F.broadcast(lm), ["prev", "token"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("nll_micro").alias("nll_micro_total"),
        )
    )
    return agg.select(
        id_col,
        "n_tokens",
        "nll_micro_total",
        F.round(
            F.col("nll_micro_total")
            / (F.col("n_tokens").cast("double") * MICRO),
            6,
        ).alias("avg_nll"),
    )
