"""Streaming WARC ingest: archives → records → extract/score →
clean/quarantine scopes (r10 verdict item 4).

Composes the WARC record explosion (operators/webarchive.py, E100)
with the htmlstream clean/quarantine discipline (streaming/
htmlstream.py): each micro-batch of ``binaryFile`` archive rows
``(path, content)`` is exploded into WARC records, HTTP 200 text/html
responses are extracted + scored with the SAME single projection the
batch path evaluates (:func:`warc_clean_verdicts` is called by both
sides, so the stream cannot drift from batch semantics), and every
record is routed:

- kept documents — ``(source_file, record_idx, target_uri, text,
  pred_lang, q)`` — land under ``{out_dir}/clean/ingest=b{id}``;
- everything else — non-response records, non-HTML or non-200
  responses, and extraction/language/quality rejects — lands under
  ``{out_dir}/quarantine/ingest=b{id}`` with its reason.

Replay safety is the shared ingest contract (streaming/ingest.py),
pinned in tests/test_warcstream.py: no cross-batch state, two scope
writes.

100 TB posture: the record explosion is one Arrow mapInPandas stage
whose parallelism is the archive-file count (~64k files per Common
Crawl snapshot — far above any executor count) and the verdict
projection is a narrow whole-stage-codegen select — no shuffle
anywhere on the ingest path; per-batch output partitioning follows
the source partitioning.

Reference anchor: the reference's record path applies per-record
transform/filter hooks as the stream lands
(.../kinesis/KinesisRecorder.java:23-49, ITransformer/IFilter); this
loop is the web-archive instance of that shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.webarchive import warc_records
from kinesis_vcr_spark.streaming.htmlstream import (
    html_quality_verdicts,
    route_verdicts,
)

#: quarantine vocabulary beyond htmlstream's (which this module reuses
#: for the extract/lang/quality stages)
VERDICT_NON_DOCUMENT = "quarantined_non_document"


def warc_clean_verdicts(
    files: DataFrame,
    *,
    keep_lang: str = "en",
    quality_threshold: float = 0.6,
) -> DataFrame:
    """Archives → records → verdicts, the single projection the batch
    path and the streaming loop both evaluate (prefix parity by
    construction — scoring is per-record, no cross-batch state).

    A record is a DOCUMENT candidate iff it is an HTTP 200 response
    whose Content-Type says text/html; everything else quarantines as
    ``quarantined_non_document`` (crawl archives are mostly request/
    metadata/robots records — the audit trail must say so, not drop
    them silently). Candidates run the htmlstream extract/langid/
    quality projection over the decoded body.

    Output: ``(source_file, record_idx, target_uri, text, pred_lang,
    q, verdict)``.
    """
    recs = warc_records(files)
    is_doc = F.coalesce(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html"),
        F.lit(False),
    )
    base = recs.select(
        "source_file",
        "record_idx",
        "target_uri",
        is_doc.alias("__is_doc"),
        F.when(is_doc, F.decode("payload", "UTF-8")).alias("html"),
    )
    scored = html_quality_verdicts(
        base,
        id_col="source_file",
        html_col="html",
        keep_lang=keep_lang,
        quality_threshold=quality_threshold,
        carry_cols=("record_idx", "target_uri", "__is_doc"),
    )
    verdict = F.when(
        ~F.col("__is_doc"), F.lit(VERDICT_NON_DOCUMENT)
    ).otherwise(F.col("verdict"))
    return scored.select(
        "source_file",
        "record_idx",
        "target_uri",
        F.when(F.col("__is_doc"), F.col("text")).alias("text"),
        "pred_lang",
        "q",
        verdict.alias("verdict"),
    )


def warc_step(
    out_dir: str,
    *,
    keep_lang: str = "en",
    quality_threshold: float = 0.6,
):
    """The archives→records→extract→quarantine step: explode and score
    every record of a batch of ``binaryFile`` archive rows, write kept
    docs to ``{out_dir}/clean`` and everything else (with reason) to
    ``{out_dir}/quarantine``, both in the batch's ``ingest=b{id}``
    scope; the loop keeps no state beside the watermark. A streaming
    file source needs the schema spelled out::

        spark.readStream.format("binaryFile").schema(
            "path string, modificationTime timestamp, "
            "length long, content binary").load(landing_dir)

    Counters: ``records_seen``, ``docs_kept``,
    ``records_quarantined``."""

    def step(batch_df, label, progress):
        verdicts = warc_clean_verdicts(
            batch_df, keep_lang=keep_lang, quality_threshold=quality_threshold,
        )
        n_kept, n_quar = route_verdicts(
            verdicts, out_dir, "clean", label,
            ("source_file", "record_idx", "target_uri", "text",
             "pred_lang", "q"),
            ("source_file", "record_idx", "target_uri", "reason",
             "pred_lang", "q"),
        )
        return {
            "records_seen": n_kept + n_quar,
            "docs_kept": n_kept,
            "records_quarantined": n_quar,
        }

    return step


def compact_warc_state(spark, out_dir: str) -> None:
    """Collapse the per-batch clean/quarantine scopes of a drained
    stream (row-preserving — readers union scopes, so collapsing them
    is invariant)."""
    from kinesis_vcr_spark.operators.compaction import (  # noqa: PLC0415
        compact_scoped_state,
    )

    compact_scoped_state(spark, f"{out_dir}/clean")
    compact_scoped_state(spark, f"{out_dir}/quarantine")
