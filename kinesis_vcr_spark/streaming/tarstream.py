"""Streaming tar-shard (WebDataset) ingest: landing dir of .tar shards
→ samples → media features / quarantine scopes (r11 verdict item 4).

WARC got its streaming loop in r11 (streaming/warcstream.py); this is
the tar-shard twin, so a landing directory of WebDataset shards rides
the same ingest discipline as every other loop in the family. Each
micro-batch of ``binaryFile`` shard rows ``(path, content)`` is
exploded into samples (operators/webarchive.py:tar_samples — the batch
operator, E100), each sample's media part is decoded through the SAME
in-repo codecs the batch feature path uses
(operators/multimodal.py:real_decode under the shared
MALFORMED_ERRORS quarantine contract), and every sample is routed:

- decodable media samples — ``(source_file, key, ext, kind,
  payload_bytes, width, height, mean_value)`` — land under
  ``{out_dir}/features/ingest=b{id}``;
- everything else — samples with no media part
  (``quarantined_non_media``) or whose decode raises the
  malformed-stream contract (``quarantined_undecodable``) — lands
  under ``{out_dir}/quarantine/ingest=b{id}`` with its reason.

Replay safety is the shared ingest contract (streaming/ingest.py),
pinned in tests/test_tarstream.py: no cross-batch state, two scope
writes.

100 TB posture: the sample explosion + decode is ONE Arrow
mapInPandas stage whose parallelism is the shard-file count
(WebDataset corpora ship thousands-to-millions of ~1 GB shards — far
above any executor count); no shuffle anywhere on the ingest path;
per-batch output partitioning follows the source partitioning.

Reference anchor: the reference's record path applies per-record
transform/filter hooks as the stream lands
(.../kinesis/KinesisRecorder.java:23-49, ITransformer/IFilter); this
loop is the multimodal-shard instance of that shape.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kinesis_vcr_spark.operators.multimodal import (
    MALFORMED_ERRORS,
    real_decode,
)
from kinesis_vcr_spark.operators.webarchive import tar_members
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.htmlstream import route_verdicts

VERDICT_KEPT = "kept"
VERDICT_NON_MEDIA = "quarantined_non_media"
VERDICT_UNDECODABLE = "quarantined_undecodable"

#: member-extension → media kind, in PROBE ORDER: a sample with both an
#: image and an audio part is keyed by its first matching extension in
#: this order (deterministic, not dict-order-dependent).
EXT_KINDS: tuple[tuple[str, str], ...] = (
    ("ppm", "image"), ("pgm", "image"), ("bmp", "image"),
    ("png", "image"), ("jpg", "image"), ("jpeg", "image"),
    ("gif", "image"), ("tif", "image"), ("tiff", "image"),
    ("webp", "image"),
    ("wav", "audio"), ("au", "audio"), ("aif", "audio"),
    ("aiff", "audio"), ("mp2", "audio"), ("mp3", "audio"),
    ("avi", "video"),
)

VERDICT_SCHEMA = StructType(
    [
        StructField("source_file", StringType(), False),
        StructField("key", StringType(), False),
        StructField("ext", StringType(), True),
        StructField("kind", StringType(), True),
        StructField("payload_bytes", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("mean_value", DoubleType(), True),
        StructField("verdict", StringType(), False),
    ]
)

_DEFAULT_PROGRESS = {
    "last_batch_id": -1,
    "samples_seen": 0,
    "samples_kept": 0,
    "samples_quarantined": 0,
}


def read_tar_progress(
    state_dir: str, spark: SparkSession | None = None
) -> dict:
    """Cumulative counters: last applied batch id, samples seen /
    kept / quarantined."""
    return ingest.read_progress(state_dir, _DEFAULT_PROGRESS, spark)


def tar_sample_verdicts(files: DataFrame, decoder=real_decode) -> DataFrame:
    """Shards → samples → decoded verdicts, the single projection the
    batch path and the streaming loop both evaluate (prefix parity by
    construction — decoding is per-sample, no cross-batch state).

    One mapInPandas stage per shard file: tar member walk
    (:func:`tar_members` — the same reader tar_samples uses), sample
    grouping by the WebDataset key convention, media-part probe in
    :data:`EXT_KINDS` order, decode through ``decoder`` under the
    :data:`MALFORMED_ERRORS` quarantine contract. Output =
    :data:`VERDICT_SCHEMA` rows, one per sample.
    """
    import pandas as pd  # noqa: PLC0415

    ext_kinds = EXT_KINDS

    def explode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {
                f.name: [] for f in VERDICT_SCHEMA.fields
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                groups: dict[str, dict[str, bytes]] = {}
                order: list[str] = []
                for name, data in tar_members(bytes(content)):
                    dirpart, _, base = name.rpartition("/")
                    stem, _, ext = base.partition(".")
                    key = f"{dirpart}/{stem}" if dirpart else stem
                    if key not in groups:
                        groups[key] = {}
                        order.append(key)
                    groups[key][ext] = data
                for key in order:
                    parts = groups[key]
                    ext = kind = None
                    for e, k in ext_kinds:
                        if e in parts:
                            ext, kind = e, k
                            break
                    feats = {"width": None, "height": None,
                             "mean_value": None}
                    if kind is None:
                        verdict = VERDICT_NON_MEDIA
                        payload = b""
                    else:
                        payload = parts[ext]
                        try:
                            feats = decoder(kind, payload)
                            verdict = VERDICT_KEPT
                        except MALFORMED_ERRORS:
                            verdict = VERDICT_UNDECODABLE
                    rows["source_file"].append(path)
                    rows["key"].append(key)
                    rows["ext"].append(ext)
                    rows["kind"].append(kind)
                    rows["payload_bytes"].append(
                        sum(len(v) for v in parts.values())
                    )
                    rows["width"].append(feats["width"])
                    rows["height"].append(feats["height"])
                    rows["mean_value"].append(feats["mean_value"])
                    rows["verdict"].append(verdict)
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(
        explode, VERDICT_SCHEMA
    )


def apply_tar_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    *,
    decoder=real_decode,
) -> None:
    """Apply one micro-batch of shard files: explode + decode every
    sample, write decodable media features to the features scope and
    everything else (with reason) to the quarantine scope — both
    ``ingest=b{id}`` overwrites — then bump the watermark. Public so
    tests can drive crash-replays directly."""

    def step(batch_df, label, progress):
        verdicts = tar_sample_verdicts(batch_df, decoder=decoder)
        n_kept, n_quar = route_verdicts(
            verdicts, out_dir, "features", label,
            ("source_file", "key", "ext", "kind", "payload_bytes",
             "width", "height", "mean_value"),
            ("source_file", "key", "ext", "kind", "payload_bytes", "reason"),
        )
        return {
            "samples_seen": n_kept + n_quar,
            "samples_kept": n_kept,
            "samples_quarantined": n_quar,
        }

    ingest.apply(batch_df, batch_id, state_dir, _DEFAULT_PROGRESS, step)


def compact_tar_state(spark, out_dir: str) -> None:
    """Collapse the per-batch features/quarantine scopes of a drained
    stream (row-preserving — readers union scopes, so collapsing them
    is invariant)."""
    from kinesis_vcr_spark.operators.compaction import (  # noqa: PLC0415
        compact_scoped_state,
    )

    compact_scoped_state(spark, f"{out_dir}/features")
    compact_scoped_state(spark, f"{out_dir}/quarantine")


def streaming_tar_ingest(
    files: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    *,
    decoder=real_decode,
):
    """Start the shards→samples→decode→quarantine loop over a
    streaming ``binaryFile`` frame watching a landing directory for
    new .tar shards — note streaming file sources require the schema
    spelled out::

        spark.readStream.format("binaryFile").schema(
            "path string, modificationTime timestamp, "
            "length long, content binary").load(landing_dir)

    Decoded features land under ``{out_dir}/features``, every other
    sample under ``{out_dir}/quarantine``; a re-delivered batch is
    skipped whole via the batch-id watermark."""
    return ingest.start(files, checkpoint_dir, lambda b, i: apply_tar_batch(
        b, i, state_dir, out_dir, decoder=decoder
    ))
