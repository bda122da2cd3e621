"""Blocklist filtering — the C4 / RefinedWeb document hygiene pass.

Web-scale corpus builders drop documents on two broadcastable
denylists before anything expensive runs: a *bad-word* list (C4 §2.2
removes any page containing a term from the "List of Dirty, Naughty,
Obscene or Otherwise Bad Words") and a *domain* blocklist over URLs
found in or attached to the document (RefinedWeb §3.1 URL filtering).
Both are tiny versus the corpus — the textbook broadcast-join shape:

- tokens / extracted domains explode narrow (no shuffle),
- the denylist broadcasts (10⁴-10⁶ entries ≪ threshold),
- one map-side-combinable ``groupBy(doc)`` tallies hits,
- the verdict joins back as a left join on the doc key — at 100 TB the
  corpus side is shuffled once on ``id_col``, nothing else moves.

Term matching is exact whole-token (C4 semantics); URL/domain
extraction is regex the Java and RE2 engines agree on (no lookaround,
no backreferences), so the DuckDB oracle reproduces every count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# https?://host[:port][/path] — host captured up to the first /, :, or
# whitespace. Portable: plain classes + alternation only.
URL_PATTERN = r"https?://[^\s]+"
DOMAIN_PATTERN = r"^https?://([^/:\s]+)"


def extract_urls(text: Column) -> Column:
    """All http(s) URLs in a text column, in order."""
    return F.regexp_extract_all(text, F.lit(URL_PATTERN), 0)


def url_domain(url: Column) -> Column:
    """Lower-cased host part of one URL."""
    return F.lower(F.regexp_extract(url, DOMAIN_PATTERN, 1))


def _denylist_df(spark: SparkSession, values: Sequence[str], col: str) -> DataFrame:
    return spark.createDataFrame([(v,) for v in sorted(set(values))], [col])


def flag_blocked(
    df: DataFrame,
    spark: SparkSession,
    id_col: str = "doc_id",
    text_col: str = "text",
    bad_terms: Sequence[str] = (),
    bad_domains: Sequence[str] = (),
) -> DataFrame:
    """Per-document verdict: ``id_col, term_hits, domain_hits, blocked``.

    ``term_hits`` = occurrences of denylisted whole tokens;
    ``domain_hits`` = URLs whose host is denylisted (exact lower-case
    match); ``blocked`` = either count > 0. Every input doc gets a row.
    """
    base = df.select(id_col)
    term_counts = None
    if bad_terms:
        toks = df.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
        ).where(F.length("token") > 0)
        term_counts = (
            toks.join(
                F.broadcast(_denylist_df(spark, bad_terms, "token")), "token"
            )
            .groupBy(id_col)
            .agg(F.count("*").alias("term_hits"))
        )
    domain_counts = None
    if bad_domains:
        urls = df.select(
            id_col, F.explode(extract_urls(F.col(text_col))).alias("url")
        ).select(id_col, url_domain(F.col("url")).alias("domain"))
        domain_counts = (
            urls.join(
                F.broadcast(
                    _denylist_df(
                        spark, [d.lower() for d in bad_domains], "domain"
                    )
                ),
                "domain",
            )
            .groupBy(id_col)
            .agg(F.count("*").alias("domain_hits"))
        )
    out = base
    for counts in (term_counts, domain_counts):
        if counts is not None:
            out = out.join(counts, id_col, "left")
    for c in ("term_hits", "domain_hits"):
        out = out.withColumn(
            c,
            F.coalesce(F.col(c) if c in out.columns else F.lit(None), F.lit(0)).cast(
                "long"
            ),
        )
    return out.withColumn(
        "blocked", (F.col("term_hits") > 0) | (F.col("domain_hits") > 0)
    )


def flag_blocked_single_pass(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bad_terms: Sequence[str] = (),
    bad_domains: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """:func:`flag_blocked` with ZERO shuffles and ONE corpus scan —
    the verdict computed per row with array higher-order functions
    (``filter``/``transform`` over the token split and the extracted
    URLs), entirely inside whole-stage codegen.

    The denylists become in-plan literal IN-lists, so this variant is
    for denylists that comfortably fit a plan (≲10⁴ entries — C4's
    bad-word list is ~400). For larger lists use :func:`flag_blocked`,
    whose broadcast-join scales to arbitrary list sizes at the price of
    explodes + one corpus shuffle on ``id_col``.

    ``carry_cols`` pass through untouched, which is what lets a caller
    aggregate the verdict without re-joining (and therefore
    re-scanning) the corpus — the fix for the double documents scan the
    r05 verdict measured in ``text_blocklist_filter``.
    """
    terms = sorted(set(bad_terms))
    doms = sorted({d.lower() for d in bad_domains})

    def _nn_size(arr: Column) -> Column:
        # size() is -1 on null input (legacy) or null (ANSI): both → 0
        return F.coalesce(F.greatest(F.size(arr), F.lit(0)), F.lit(0))

    if terms:
        toks = F.split(F.col(text_col), " ")
        term_hits = _nn_size(F.filter(toks, lambda t: t.isin(*terms)))
    else:
        term_hits = F.lit(0)
    if doms:
        domains = F.transform(
            extract_urls(F.col(text_col)),
            lambda u: F.lower(F.regexp_extract(u, DOMAIN_PATTERN, 1)),
        )
        domain_hits = _nn_size(F.filter(domains, lambda d: d.isin(*doms)))
    else:
        domain_hits = F.lit(0)
    return df.select(
        id_col,
        *carry_cols,
        term_hits.cast("long").alias("term_hits"),
        domain_hits.cast("long").alias("domain_hits"),
    ).withColumn(
        "blocked", (F.col("term_hits") > 0) | (F.col("domain_hits") > 0)
    )
