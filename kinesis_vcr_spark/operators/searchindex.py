"""Persisted inverted (BM25) text-search index — build / append /
probe, the text-search member of the index family.

Every other retrieval family in this engine already has the
daily-ingest triple of batch operator + persisted index + streaming
ingest: near-dup (operators/dedup.py → dedup_index.py →
streaming/neardup.py), ANN (similarity.py → ivf.py →
streaming/annstream.py), exact-span (spandedup.py → its gram-count
index → streaming/spanstream.py). Ranked text retrieval
(queries/tfidf.py's ``bm25_search``) recomputes corpus statistics per
query; this module persists them once as the classic search-engine
layout and answers queries from postings alone:

- ``{path}/postings/ingest=<label>/tb=<bucket>`` — one row per
  (term, doc) pair: ``(term, doc_id, tf, dl)``. The document length
  is DENORMALIZED into the posting (the standard impact-ordered-index
  trick) so a probe never joins back to a forward index: everything
  BM25 needs about a (term, doc) pair travels in its posting row.
- ``{path}/stats/ingest=<label>`` — one row per ingest scope:
  ``(n_docs, sum_dl)``. Corpus-level N and avgdl are the SUM of the
  per-scope partials — a probe aggregates a handful of tiny rows, not
  the corpus.
- ``{path}/meta`` — ``n_buckets``, the one layout parameter probes
  must reuse (a probe hashing terms with a different bucket count
  would prune away live postings).

``tb = pmod(xxhash64(term), n_buckets)`` is a PARTITION column: a
probe for k query terms computes their ≤ k buckets and Catalyst's
partition pruning skips every other bucket's files entirely
(plan-pinned in tests/test_searchindex.py). At 100 TB the postings
table is the corpus-sized artifact; the probe reads O(postings of the
query's buckets) — with enough buckets, a vanishing fraction —
while appends stay O(batch) (each ingest writes only its own scope).
Scoping mirrors the other indexes: a labeled append OVERWRITES its own
``ingest=<label>`` scope, so an at-least-once orchestrator replaying a
batch replaces its rows instead of double-counting them.

Contract: ``doc_id`` values are unique across ALL ingest scopes (the
same streaming contract as the span/ANN indexes). Document frequency
is then exactly ``count(*)`` over a term's postings, and a probe over
the accumulated index is bit-identical to ``bm25_search`` run over the
union of everything ingested (test-pinned; the incremental registry
query ``search_index_incremental`` oracle-checks it against DuckDB).

Reference anchor: the reference engine has no search surface
(SURVEY.md §2.5a E-series extension); BM25 follows Robertson &
Spärck Jones as specified in queries/tfidf.py, whose score expression
this module mirrors term-for-term so the doubles agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup_index import _rm_recursive

#: default BM25 parameters — shared with queries/tfidf.py.
BM25_K1 = 1.2
BM25_B = 0.75

_META_SCHEMA = "n_buckets int"


def _postings(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """``(term, doc_id, tf, dl, tb)`` rows for a document frame —
    whitespace tokenization, exact integer counts, dl denormalized
    into every posting. One explode + one groupBy (map-side combined);
    dl rides along as a grouping key so no self-join is needed."""
    return (
        # tokenize once per row (bound attribute), not once per
        # consumer expression — same two-step-projection discipline as
        # shingle_frame
        df.select(
            F.col(id_col).alias("doc_id"),
            F.split(text_col, " ").alias("__toks"),
        )
        .select(
            "doc_id",
            F.size("__toks").alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )


def _scope_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Single-row per-scope partial statistics ``(n_docs, sum_dl)``."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(F.size(F.split(text_col, " "))).cast("long"), F.lit(0)
        ).alias("sum_dl"),
    )


def load_search_meta(spark: SparkSession, index_path: str) -> int:
    """``n_buckets`` the index was laid out with."""
    return spark.read.parquet(f"{index_path}/meta").collect()[0][
        "n_buckets"
    ]


def init_search_index(
    spark: SparkSession, index_path: str, *, n_buckets: int = 16
) -> None:
    """Reset the artifact to an EMPTY index with a stamped layout:
    clear every scope dir (stale scopes from a previous build must not
    leak into partition discovery — the same discipline as
    build_near_dup_index) and write ``meta``. Callers then append the
    artifact kinds their workload needs — a phrase-only index appends
    just positional postings (:func:`append_position_index`) and never
    pays the BM25 postings/stats build (r15: guide §1.2, don't compute
    artifacts the workload throws away)."""
    _rm_recursive(spark, f"{index_path}/postings")
    _rm_recursive(spark, f"{index_path}/stats")
    _rm_recursive(spark, f"{index_path}/positions")
    spark.createDataFrame([(n_buckets,)], _META_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/meta")


def build_search_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_buckets: int = 16,
    ingest_label: str = "_base",
) -> None:
    """Fresh build: reset the layout (:func:`init_search_index`) and
    write the corpus as one ingest scope."""
    spark = df.sparkSession
    init_search_index(spark, index_path, n_buckets=n_buckets)
    append_search_index(
        df, index_path, id_col, text_col, ingest_label=ingest_label
    )


def append_search_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    ingest_label: str,
) -> None:
    """Add one batch as its own ``ingest=<label>`` scope — O(batch)
    work, overwrite-idempotent under orchestrator replay. The bucket
    count comes from the persisted meta (never the caller), so every
    scope shares one partition layout."""
    spark = df.sparkSession
    n_buckets = load_search_meta(spark, index_path)
    posts = _postings(df, id_col, text_col, n_buckets)
    (
        posts.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(f"{index_path}/postings/ingest={ingest_label}")
    )
    _scope_stats(df, id_col, text_col).write.mode("overwrite").parquet(
        f"{index_path}/stats/ingest={ingest_label}"
    )


def _meta_and_buckets(
    spark: SparkSession, index_path: str, terms: list[str]
) -> tuple[int, list[int]]:
    """``(n_buckets, term buckets)`` in ONE collect: the meta row is
    cross-joined to the terms so the bucket expression (the same
    engine expression that laid the postings out) sees the stamped
    ``n_buckets`` without a separate meta-read job — probes are
    fixed-overhead-bound at day-batch sizes (r15: 8-core/32-core ratio
    0.53 on the phrase row said per-job cost dominates), so every job
    folded out of the probe path counts."""
    meta = spark.read.parquet(f"{index_path}/meta")
    t = spark.createDataFrame(
        [(x,) for x in sorted(set(terms))], "term string"
    )
    rows = meta.crossJoin(t).select(
        "n_buckets",
        F.pmod(F.xxhash64("term"), F.col("n_buckets")).cast("int").alias(
            "tb"
        ),
    ).collect()
    return rows[0]["n_buckets"], sorted({r["tb"] for r in rows})


def search_index_topk(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    k: int = 20,
    *,
    k1: float = BM25_K1,
    b: float = BM25_B,
    exclude_ingest: str | None = None,
) -> DataFrame:
    """BM25 top-k over everything ingested: ``(doc_id, bm25,
    n_terms_hit)``, score rounded once at 6 dp, total ordering
    (score desc, doc_id asc) — the exact output contract of
    queries/tfidf.py's ``bm25_search``, answered from the index alone.

    Plan shape: the postings scan carries PartitionFilters on ``tb``
    (only the query terms' buckets are listed) plus a pushed ``term``
    filter inside them; df comes from a count over those same rows; the
    corpus stats are a broadcast 1-row aggregate of the per-scope
    partials. Nothing here scales with corpus size except the pruned
    postings read.

    ``exclude_ingest`` drops one scope (partition-pruned) — the
    crash-replay discipline for streaming ingest, identical to
    load_near_dup_index."""
    if not terms:
        raise ValueError("search_index_topk needs at least one term")
    n_buckets, buckets = _meta_and_buckets(spark, index_path, terms)
    posts = spark.read.parquet(f"{index_path}/postings").where(
        F.col("tb").isin(buckets) & F.col("term").isin(terms)
    )
    stats = spark.read.parquet(f"{index_path}/stats")
    if exclude_ingest is not None:
        posts = posts.where(F.col("ingest") != exclude_ingest)
        stats = stats.where(F.col("ingest") != exclude_ingest)
    posts = posts.drop("ingest", "tb")
    totals = stats.agg(
        F.sum("n_docs").alias("n_total"), F.sum("sum_dl").alias("sum_dl")
    )
    dfreq = posts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_docs")  # doc_ids unique across scopes
    )
    # mirror bm25_search's expression tree exactly — same ops, same
    # order, so the doubles are bit-identical to the batch query's
    avgdl = F.col("sum_dl") / F.col("n_total")
    idf = F.log(
        1
        + (F.col("n_total") - F.col("df_docs") + 0.5)
        / (F.col("df_docs") + 0.5)
    )
    part = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
    )
    per_doc = (
        posts.join(dfreq, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(part), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return per_doc.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(k)


# ---------------------------------------------------------------------------
# phrase search — token-adjacency matching, batch and positional-index
# ---------------------------------------------------------------------------
#
# An occurrence of phrase [t_0 .. t_{m-1}] at start position s means:
# for EVERY offset i, the token at s+i equals t_i. Re-indexing each
# matching token row (doc, p, term) as a VOTE for start s = p − i turns
# phrase matching into one aggregation: a start with all m distinct
# offsets voting is an occurrence. Repeated phrase terms are handled
# for free (offsets are distinct even when terms are not). No window,
# no self-join chain: cost is Θ(tokens matching any phrase term)
# through one shuffle, the same skew posture as every explode→groupBy
# in this engine.


def _phrase_votes(
    toks: DataFrame, phrase: list[str]
) -> DataFrame:
    """``(doc_id, s, i)`` votes — token rows ``(doc_id, p, term)``
    (0-based p) joined to the tiny (term, offset) phrase table
    (broadcast by size)."""
    spark = toks.sparkSession
    ph = spark.createDataFrame(
        [(t, i) for i, t in enumerate(phrase)], "term string, i int"
    )
    return toks.join(F.broadcast(ph), "term").select(
        "doc_id", (F.col("p") - F.col("i")).alias("s"), "i"
    )


def phrase_occurrences(
    df: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact per-document occurrence counts of a token phrase:
    ``(doc_id, n_occurrences)``, one row per document containing the
    phrase at least once. Whitespace tokenization (the engine-wide
    convention); occurrences may overlap (each start counts)."""
    if not phrase:
        raise ValueError("phrase_occurrences needs a non-empty phrase")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(text_col, " ")).alias("p", "term"),
    )
    votes = _phrase_votes(toks, phrase)
    starts = _full_starts(votes, len(phrase))
    return starts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def _full_starts(votes: DataFrame, m: int) -> DataFrame:
    """Starts where all ``m`` offsets voted. ``count(*)``, not
    ``count(DISTINCT i)`` (r15): a vote row exists per (token position
    p, phrase offset i with term match), and for a fixed (doc, s, i)
    the only possible source is p = s + i — vote rows are UNIQUE on
    (doc_id, s, i) by construction (repeated phrase terms included:
    each occurrence of the term in the phrase is a distinct offset),
    so the plain count equals the distinct count and the
    distinct-aggregation's extra expand + exchange disappears from
    both the batch operator and the index probe. Uniqueness needs each
    token row ``(doc_id, p, term)`` once: true of a tokenized frame,
    and made true in :func:`phrase_probe_index`, whose positions may
    hold a document under two ingest scopes."""
    return (
        votes.groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where((F.col("__n") == m) & (F.col("s") >= 0))
    )


def append_position_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    ingest_label: str,
) -> None:
    """Positional postings ``(term, doc_id, p)`` for phrase queries,
    written beside the BM25 postings under
    ``{path}/positions/ingest=<label>/tb=<bucket>`` with the SAME
    bucket layout (meta's n_buckets), so phrase probes get the same
    partition pruning. Optional — only phrase search needs it, and it
    is the corpus-sized artifact (one row per token), so callers opt
    in per index."""
    spark = df.sparkSession
    n_buckets = load_search_meta(spark, index_path)
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(text_col, " ")).alias("p", "term"),
        )
        .withColumn(
            "tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )
    (
        toks.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(f"{index_path}/positions/ingest={ingest_label}")
    )


def phrase_probe_index(
    spark: SparkSession,
    index_path: str,
    phrase: list[str],
    *,
    exclude_ingest: str | None = None,
) -> DataFrame:
    """Per-document phrase occurrence counts answered from the
    positional postings alone — equals :func:`phrase_occurrences` over
    everything ingested (test-pinned). The positions scan is pruned to
    the phrase terms' buckets exactly like the BM25 probe."""
    if not phrase:
        raise ValueError("phrase_probe_index needs a non-empty phrase")
    n_buckets, buckets = _meta_and_buckets(spark, index_path, phrase)
    toks = spark.read.parquet(f"{index_path}/positions").where(
        F.col("tb").isin(buckets) & F.col("term").isin(list(set(phrase)))
    )
    if exclude_ingest is not None:
        toks = toks.where(F.col("ingest") != exclude_ingest)
    # distinct: a document appended under two ingest labels would
    # otherwise vote twice per offset and miss the count == m test
    votes = _phrase_votes(
        toks.select("doc_id", "p", "term").distinct(), phrase
    )
    starts = _full_starts(votes, len(phrase))
    return starts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def compact_search_index(spark: SparkSession, index_path: str) -> None:
    """Collapse the per-ingest scopes of a drained/paused index into
    one ``ingest=_compacted`` scope each, preserving the inner ``tb``
    partitioning of the postings (probe pruning survives compaction).
    Probe results are unchanged: df/tf/dl rows are row-preserved and
    the stats SUM is scope-count-agnostic."""
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    compact_scoped_state(spark, f"{index_path}/postings", ("tb",))
    compact_scoped_state(spark, f"{index_path}/stats")
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{index_path}/positions")
    fs = hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    if fs.exists(hpath):  # positional postings are opt-in
        compact_scoped_state(spark, f"{index_path}/positions", ("tb",))
