"""Streaming HTML ingest: per-batch extract → score → quarantine — the
E94 streaming twin (r07 verdict item 6, landed r09).

Family symmetry: near-dup, ANN, span, search and URL dedup each pair a
batch operator with a streaming ingest loop; this is the loop for
HTML→text extraction + language/quality scoring
(functions/html.py + functions/text.py). Each micro-batch of raw crawl
rows ``(doc_id, html)`` is extracted and scored with the SAME column
expressions the batch queries use (:func:`html_quality_verdicts` is the
single source both sides call, so the stream cannot drift from batch
semantics), then routed:

- kept docs — ``(doc_id, text, pred_lang, q)`` — land under
  ``{out_dir}/clean/ingest=b{batch_id}`` (the corpus downstream
  training-prep stages read);
- rejected docs — ``(doc_id, reason, pred_lang, q)`` — land under
  ``{out_dir}/quarantine/ingest=b{batch_id}`` (the audit trail: WHY
  each doc was excluded, in llm_prep_corpus's stage vocabulary).

Unlike the dedup loops this one needs NO cross-batch probe state —
scoring is per-document — so the loop is the minimal instance of the
shared ingest discipline (streaming/ingest.py): two scope writes and
no probe.

100 TB posture: the verdict projection is one narrow
whole-stage-codegen select (regexp chain + stopword-profile
intersections + arithmetic) — no shuffle, no Python workers — so each
micro-batch costs one scan of itself; per-batch output partitioning
follows the source partitioning.

Reference anchor: the reference's record path applies per-record
transform/filter hooks as the stream lands
(.../kinesis/KinesisRecorder.java:23-49, ITransformer/IFilter); this
loop is the corpus-prep instance of that shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.functions.html import html_to_text
from kinesis_vcr_spark.functions.text import (
    canonicalize_text,
    predicted_lang,
    quality_score,
)
from kinesis_vcr_spark.streaming import ingest

VERDICT_KEPT = "kept"
VERDICT_INVALID = "quarantined_invalid"
VERDICT_LANG = "quarantined_lang"
VERDICT_QUALITY = "quarantined_quality"


def html_quality_verdicts(
    docs: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    keep_lang: str = "en",
    quality_threshold: float = 0.6,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc extract + score + verdict — the single projection both
    the batch path and the streaming loop evaluate (prefix parity is
    then by construction: per-doc scoring has no cross-batch state).

    Stage order mirrors ``llm_prep_corpus`` stages 2-3: structurally
    invalid first (NULL id/html, or extraction yielding NULL/empty
    text — scoring an empty string would divide by zero), then
    language, then quality. ``pred_lang``/``q`` are NULL for invalid
    rows rather than garbage.

    Output: ``(id_col, *carry_cols, text, pred_lang, q, verdict)`` —
    ``carry_cols`` pass through untouched so composed ingest loops
    (streaming/warcstream.py keeps provenance columns) stay a single
    narrow projection instead of scoring-then-joining-back.
    """
    idc = F.col(id_col)
    with_text = docs.withColumn(
        "text", canonicalize_text(html_to_text(F.col(html_col)))
    )
    invalid = (
        idc.isNull()
        | F.col(html_col).isNull()
        | F.col("text").isNull()
        | (F.length("text") == 0)
    )
    scored = with_text.select(
        id_col,
        *carry_cols,
        F.when(~invalid, F.col("text")).alias("text"),
        F.when(~invalid, predicted_lang(F.col("text"))).alias("pred_lang"),
        F.when(~invalid, quality_score(F.col("text"))).alias("q"),
        invalid.alias("__invalid"),
    )
    verdict = (
        F.when(F.col("__invalid"), F.lit(VERDICT_INVALID))
        .when(F.col("pred_lang") != keep_lang, F.lit(VERDICT_LANG))
        .when(F.col("q") < quality_threshold, F.lit(VERDICT_QUALITY))
        .otherwise(F.lit(VERDICT_KEPT))
    )
    return scored.select(
        id_col, *carry_cols, "text", "pred_lang", "q",
        verdict.alias("verdict"),
    )


def route_verdicts(
    verdicts: DataFrame, out_dir: str, kept_dir: str, label: str,
    kept_cols: tuple, quarantine_cols: tuple,
) -> tuple[int, int]:
    """Write kept rows to ``{out_dir}/{kept_dir}`` and every other row
    to ``{out_dir}/quarantine``, both under the batch's ``label`` scope;
    returns the (kept, quarantined) row counts. A ``"reason"`` entry in
    ``quarantine_cols`` is the verdict. Shared by the verdict loops
    (html, warc, tar)."""
    kept = F.col("verdict") == VERDICT_KEPT
    n_kept = ingest.write_scope(
        verdicts.where(kept).select(*kept_cols), f"{out_dir}/{kept_dir}", label
    )["rows"]
    n_quar = ingest.write_scope(
        verdicts.where(~kept).select(*[
            F.col("verdict").alias(c) if c == "reason" else c
            for c in quarantine_cols
        ]),
        f"{out_dir}/quarantine", label,
    )["rows"]
    return n_kept, n_quar


def html_step(
    out_dir: str,
    *,
    id_col: str = "doc_id",
    html_col: str = "html",
    keep_lang: str = "en",
    quality_threshold: float = 0.6,
):
    """The extract→score→quarantine step: score every doc of a batch
    of raw crawl rows, write kept docs to ``{out_dir}/clean`` and
    rejected docs (with reason) to ``{out_dir}/quarantine``, both in
    the batch's ``ingest=b{id}`` scope; the loop keeps no state beside
    the watermark. Counters: ``docs_seen``, ``docs_kept``,
    ``docs_quarantined``."""

    def step(batch_df, label, progress):
        verdicts = html_quality_verdicts(
            batch_df, id_col, html_col,
            keep_lang=keep_lang, quality_threshold=quality_threshold,
        )
        n_kept, n_quar = route_verdicts(
            verdicts, out_dir, "clean", label,
            (id_col, "text", "pred_lang", "q"),
            (id_col, "reason", "pred_lang", "q"),
        )
        return {
            "docs_seen": n_kept + n_quar,
            "docs_kept": n_kept,
            "docs_quarantined": n_quar,
        }

    return step


def compact_html_state(spark, out_dir: str) -> None:
    """Collapse the per-batch clean/quarantine scopes of a drained
    stream (row-preserving — readers union scopes, so collapsing them
    is invariant)."""
    from kinesis_vcr_spark.operators.compaction import (  # noqa: PLC0415
        compact_scoped_state,
    )

    compact_scoped_state(spark, f"{out_dir}/clean")
    compact_scoped_state(spark, f"{out_dir}/quarantine")
