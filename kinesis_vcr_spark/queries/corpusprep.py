"""Corpus-preparation queries — repetition quality signals, cross-doc
line dedup, and sequence packing.

The driver-checkable surface of :mod:`operators.repetition`,
:mod:`operators.linededup` and :mod:`operators.packing`.

The fixture corpus has no physical newlines, so "lines" are
deterministic fixed-width token chunks (``chunk_lines``) — the SQL
oracle rebuilds the identical chunking with ``list_slice``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.functions.text import token_count
from kinesis_vcr_spark.operators.linededup import dedup_lines
from kinesis_vcr_spark.operators.packing import bin_stats, pack_chunk
from kinesis_vcr_spark.operators.repetition import chunk_lines, repetition_signals
from kinesis_vcr_spark.queries import QuerySpec, register
from kinesis_vcr_spark.tables import load_table

# DuckDB fragment: width-K token chunks of string_split(text, ' ').
# list_slice end is inclusive and clamps at the array end, mirroring
# F.slice's remainder behavior.


def _chunk_sql(width: int) -> str:
    return (
        f"list_transform(range(1, CAST(ceil(len(t) / {width}.0) AS BIGINT) + 1), "
        f"i -> array_to_string(list_slice(t, (i - 1) * {width} + 1, i * {width}), ' '))"
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition signals
# ---------------------------------------------------------------------------

_LINE_W = 2  # 2-token lines: small fixture vocab → real within-doc dups


def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition filters (Gopher §A1.1): duplicated-line
    occurrence/character fractions over width-2 token chunks, and the
    dominant word-2-gram's character coverage."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        repetition_signals(docs, "doc_id", "text", line_width=_LINE_W)
        .orderBy("doc_id")
    )


REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, length(text) AS total_chars, string_split(text, ' ') AS t
  FROM documents
), lin AS (
  SELECT doc_id, unnest({_chunk_sql(_LINE_W)}) AS line FROM toks
), locc AS (
  SELECT doc_id, line, count(*) AS c, length(line) AS chars
  FROM lin WHERE length(line) > 0 GROUP BY doc_id, line
), lstats AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_lines,
         round((sum(c) - count(*)) / CAST(sum(c) AS DOUBLE), 6)
           AS dup_line_frac,
         round(sum((c - 1) * chars) / CAST(sum(c * chars) AS DOUBLE), 6)
           AS dup_line_char_frac
  FROM locc GROUP BY doc_id
), gr AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS gram
  FROM toks
), gocc AS (
  SELECT doc_id, gram, count(*) AS c FROM gr GROUP BY doc_id, gram
), gbest AS (
  SELECT doc_id, gram AS top_bigram, c AS top_bigram_count
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY c DESC, gram DESC) AS rk
        FROM gocc)
  WHERE rk = 1
)
SELECT t.doc_id, n_lines, dup_line_frac, dup_line_char_frac,
       top_bigram, CAST(top_bigram_count AS BIGINT) AS top_bigram_count,
       round(top_bigram_count * length(top_bigram)
             / CAST(total_chars AS DOUBLE), 6) AS top_bigram_char_frac
FROM toks t JOIN lstats USING (doc_id) JOIN gbest USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# C4-style cross-document line dedup
# ---------------------------------------------------------------------------

_DEDUP_W = 3  # 3-token lines: ~230 lines shared by >= 3 docs at sf0.01
_MIN_DOCS = 3


def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 boilerplate removal: drop every line occurring in ≥ 3
    distinct documents, reassemble documents in original line order;
    audit row = per-doc kept/removed counts + md5 of the cleaned text
    (proves byte-exact reassembly, not just counts)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    cleaned = dedup_lines(
        toks.select("doc_id", chunk_lines(F.col("t"), _DEDUP_W).alias("ls")),
        "doc_id",
        F.col("ls"),
        min_docs=_MIN_DOCS,
    )
    return cleaned.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.length("clean_text").alias("clean_len"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


LINE_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), ch AS (
  SELECT doc_id, {_chunk_sql(_DEDUP_W)} AS ls FROM toks
), lines AS (
  SELECT doc_id, unnest(ls) AS line,
         unnest(range(1, len(ls) + 1)) AS pos
  FROM ch
), ne AS (
  SELECT * FROM lines WHERE length(line) > 0
), bp AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS d FROM ne GROUP BY line
  ) WHERE d >= {_MIN_DOCS}
), fl AS (
  SELECT n.doc_id, n.pos, n.line, (b.line IS NOT NULL) AS is_bp
  FROM ne n LEFT JOIN bp b USING (line)
), agg AS (
  SELECT doc_id,
         count(*) AS n_lines,
         CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
                             chr(10) ORDER BY pos), '') AS clean_text
  FROM fl GROUP BY doc_id
)
SELECT doc_id, n_lines, n_removed,
       length(clean_text) AS clean_len, md5(clean_text) AS clean_md5
FROM agg ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# sequence packing (concatenate-then-split)
# ---------------------------------------------------------------------------

_CAPACITY = 256
_STREAMS = 8


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-mode sequence packing of the corpus into 256-token
    training windows across 8 deterministic streams; output is the
    per-(stream, bin) packing audit. One window cumsum per stream —
    entirely Catalyst, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    prepared = docs.select("doc_id", token_count(F.col("text")).alias("n_tok"))
    packed = pack_chunk(prepared, "doc_id", "n_tok", _CAPACITY, _STREAMS)
    return (
        bin_stats(packed.select("doc_id", "stream", "bin_id", "n_tok"), "n_tok")
        .orderBy("stream", "bin_id")
    )


PACK_SQL = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         CAST(doc_id % {_STREAMS} AS INT) AS stream
  FROM documents
), c AS (
  SELECT *,
         sum(n_tok) OVER (PARTITION BY stream ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok
  FROM d
), b AS (
  SELECT stream, CAST(floor(start_tok / {_CAPACITY}.0) AS BIGINT) AS bin_id,
         doc_id, n_tok
  FROM c
)
SELECT stream, bin_id, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_id, max(doc_id) AS last_id
FROM b GROUP BY stream, bin_id ORDER BY stream, bin_id
"""


register(QuerySpec(
    "text_repetition_signals", text_repetition_signals, REPETITION_SQL,
    "Gopher repetition filters: dup-line + top-bigram character fractions",
))
register(QuerySpec(
    "corpus_line_dedup", corpus_line_dedup, LINE_DEDUP_SQL,
    "C4 cross-doc line dedup: boilerplate removal + md5-exact reassembly",
))
register(QuerySpec(
    "pack_training_sequences", pack_training_sequences, PACK_SQL,
    "sequence packing into 256-token windows (concatenate-then-split audit)",
))


# ---------------------------------------------------------------------------
# linear quality model (hashing trick)
# ---------------------------------------------------------------------------

def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality score per document via the
    feature-hashing trick: md5-derived integer milli-weights per token
    (exact, order-independent sum), sigmoid applied once to the exact
    logit. No vocabulary table, no shuffle beyond the doc-key groupBy."""
    from kinesis_vcr_spark.operators.classify import score_documents

    docs = load_table(spark, sf_dir, "documents")
    return score_documents(docs, "doc_id", "text").orderBy("doc_id")


# DuckDB reproduction of hash_weight_milli: base-16 value of the first
# 6 md5 hex digits via character arithmetic (no hex-cast builtin).
_HEXVAL = (
    "list_aggregate(list_transform(range(1, 7), i -> "
    "(CASE WHEN substr(h, i, 1) BETWEEN '0' AND '9' "
    "THEN ascii(substr(h, i, 1)) - 48 "
    "ELSE ascii(substr(h, i, 1)) - 87 END) "
    "* CAST(pow(16, 6 - i) AS BIGINT)), 'sum')"
)

QUALITY_MODEL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), ne AS (
  SELECT doc_id, substr(md5(token), 1, 6) AS h
  FROM toks WHERE length(token) > 0
), w AS (
  SELECT doc_id, {_HEXVAL} % 2001 - 1000 AS wm FROM ne
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(wm) AS BIGINT) AS logit_milli,
       round(1.0 / (1.0 + exp(-(CAST(sum(wm) AS DOUBLE) / 1000.0))), 6)
         AS score
FROM w GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# int8 embedding quantization error audit
# ---------------------------------------------------------------------------

def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit per-dimension min-max ranges over the corpus, quantize every
    element to an 8-bit code, and report per-label reconstruction
    error — code range proves full 0..255 utilization, the mean
    absolute error is DECIMAL-summed (exact, order-independent)."""
    from kinesis_vcr_spark.operators.quantize import (
        embedding_ranges,
        quantize_elements,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qel = quantize_elements(emb, embedding_ranges(emb), "vec_id", "embedding")
    labeled = qel.join(emb.select("vec_id", "label"), "vec_id")
    return (
        labeled.groupBy("label")
        .agg(
            F.count("*").alias("n_elems"),
            F.min("code").alias("min_code"),
            F.max("code").alias("max_code"),
            F.round(
                F.sum(F.col("abs_err").cast("decimal(24,15)")).cast("double")
                / F.count("*"),
                8,
            ).alias("mean_abs_err"),
        )
        .select(
            F.col("label").cast("int").alias("label"),
            "n_elems", "min_code", "max_code", "mean_abs_err",
        )
        .orderBy("label")
    )


QUANTIZE_SQL = """
WITH el AS (
  SELECT vec_id, label,
         unnest(embedding) AS xf,
         unnest(range(0, len(embedding))) AS pos
  FROM embeddings
), d AS (
  SELECT vec_id, label, pos, CAST(xf AS DOUBLE) AS x FROM el
), r AS (
  SELECT pos, min(x) AS vmin, max(x) AS vmax FROM d GROUP BY pos
), q AS (
  SELECT d.label,
         CASE WHEN vmax = vmin THEN 0
              ELSE CAST(round((x - vmin) / ((vmax - vmin) / 255.0)) AS INT)
         END AS code,
         CASE WHEN vmax = vmin THEN 0.0
              ELSE abs(x - (vmin
                   + CAST(round((x - vmin) / ((vmax - vmin) / 255.0)) AS INT)
                     * ((vmax - vmin) / 255.0)))
         END AS abs_err
  FROM d JOIN r USING (pos)
)
SELECT CAST(label AS INT) AS label,
       count(*) AS n_elems,
       min(code) AS min_code,
       max(code) AS max_code,
       round(CAST(sum(CAST(abs_err AS DECIMAL(24,15))) AS DOUBLE)
             / count(*), 8) AS mean_abs_err
FROM q GROUP BY label ORDER BY label
"""


register(QuerySpec(
    "text_quality_model", text_quality_model, QUALITY_MODEL_SQL,
    "linear quality model via feature hashing: exact integer logit + sigmoid",
))
register(QuerySpec(
    "embedding_quantize_error", embedding_quantize_error, QUANTIZE_SQL,
    "int8 min-max embedding quantization: per-label reconstruction error",
))


# ---------------------------------------------------------------------------
# cross-document n-gram novelty (operators/novelty.py)
# ---------------------------------------------------------------------------

NOVELTY_N = 3


def corpus_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: what share of each source's distinct
    word trigrams were corpus-firsts in its own docs (first_seen =
    min doc_id). Template/mirror-heavy sources sink toward the
    duplicate floor; the explode→min-reduce→join-back shape is
    operators/novelty.py (persisted single explode, integer-exact
    ratios)."""
    from kinesis_vcr_spark.operators.novelty import novelty_by_group  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    return novelty_by_group(docs, "source", n=NOVELTY_N).orderBy("source")


NOVELTY_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, source,
         -- list_slice clamps at the array end, so docs with < 3 tokens
         -- yield one whole-text shingle, mirroring word_shingles
         list_distinct(list_transform(
             range(1, greatest(len(t) - {NOVELTY_N - 1}, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + {NOVELTY_N - 1}), ' ')))
           AS shingles
  FROM toks
), edges AS (
  SELECT doc_id, source, unnest(shingles) AS shingle FROM sh
), first_seen AS (
  SELECT shingle, min(doc_id) AS first_seen FROM edges GROUP BY shingle
)
SELECT e.source,
       CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f.first_seen = e.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS novel_ngrams,
       CAST(count(*) AS BIGINT) AS total_ngrams,
       round(CAST(sum(CASE WHEN f.first_seen = e.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM edges e JOIN first_seen f ON e.shingle = f.shingle
GROUP BY e.source
ORDER BY e.source
"""


register(
    QuerySpec(
        "corpus_novelty_by_source",
        corpus_novelty_by_source,
        NOVELTY_SQL,
        "cross-doc n-gram novelty rollup: share of corpus-first "
        "trigrams per source — boilerplate/mirror detector",
    )
)
