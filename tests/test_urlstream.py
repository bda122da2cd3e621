"""Streaming URL dedup (streaming/urlstream.py): prefix-parity with
the batch operator, within-batch dedup, crash-replay idempotence,
out-of-order prefix semantics, compaction invariance, and the
foreachBatch end-to-end drive."""

from __future__ import annotations

import numpy as np  # noqa: F401  (parity with sibling stream tests)
from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.urldedup import url_dedup_groups
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.urlstream import compact_url_state, url_step


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows]
    )


CORPUS = [
    (1, "see https://a.com/x now"),
    (2, "see http://www.a.com/x/ again"),  # variant of 1
    (3, "fresh https://b.com/y page"),
    (4, "see https://a.com/x?utm_source=z third"),  # variant of 1
    (5, "another https://b.com/y?k=1 distinct"),  # kept param → new key
    (6, "dup http://b.com/y page"),  # variant of 3
]


def _verdicts(spark, path):
    return {
        (r["doc_id"], r["canon_url"]): (r["keep_doc_id"], r["is_dup"])
        for r in spark.read.parquet(path).collect()
    }


def test_prefix_parity_with_batch_operator(spark, tmp_path):
    """Ascending-id batches: the union of streaming verdicts matches
    the batch url_dedup_groups keep representative exactly, and every
    non-keep occurrence is flagged dup."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "verdicts")
    step = url_step(state, out)
    batches = [CORPUS[:2], CORPUS[2:4], CORPUS[4:]]
    for bid, rows in enumerate(batches):
        ingest.apply(_docs(spark, rows), bid, state, step)
    got = _verdicts(spark, out)
    assert len(got) == 6
    batch_keep = {
        r["canon_url"]: r["keep_doc_id"]
        for r in url_dedup_groups(_docs(spark, CORPUS)).collect()
    }
    for (doc_id, canon), (keep, is_dup) in got.items():
        assert keep == batch_keep[canon], (doc_id, canon)
        assert is_dup == (doc_id != keep)
    prog = ingest.read_progress(state)
    assert prog == {"last_batch_id": 2, "urls_seen": 6, "dups_emitted": 3}


def test_within_batch_dedup_and_crash_replay(spark, tmp_path):
    """Variants arriving in ONE batch dedup against each other
    immediately; replaying an applied batch (watermark) and re-running
    a half-applied one (scope overwrite) both land identical bytes."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "verdicts")
    step = url_step(state, out)
    ingest.apply(_docs(spark, CORPUS[:2]), 0, state, step)
    before = _verdicts(spark, out)
    assert before[(2, "a.com/x")] == (1, True)  # within-batch dup
    # watermark replay: no change
    ingest.apply(_docs(spark, CORPUS[:2]), 0, state, step)
    assert _verdicts(spark, out) == before
    # crash between writes: simulate by re-applying batch 1 after its
    # seen-scope landed but progress did not (force by resetting the
    # progress file to batch 0's state)
    ingest.apply(_docs(spark, CORPUS[2:4]), 1, state, step)
    after_b1 = _verdicts(spark, out)
    from kinesis_vcr_spark import statefs

    # rewind through statefs: a hand-edit via plain open() would strand
    # the Hadoop LocalFileSystem's .crc sidecar (ChecksumException)
    prog = statefs.read_json_state(spark, f"{state}/progress.json", {})
    prog["last_batch_id"] = 0
    statefs.write_json_state(spark, f"{state}/progress.json", prog)
    ingest.apply(_docs(spark, CORPUS[2:4]), 1, state, step)  # replay
    assert _verdicts(spark, out) == after_b1


def test_out_of_order_prefix_semantics(spark, tmp_path):
    """A later batch with a SMALLER doc id keeps its own min going
    forward but does not retro-patch: the documented prefix
    contract."""
    state = str(tmp_path / "state")
    out = str(tmp_path / "verdicts")
    step = url_step(state, out)
    ingest.apply(
        _docs(spark, [(10, "x https://c.com/z")]), 0, state, step
    )
    ingest.apply(
        _docs(spark, [(7, "x http://www.c.com/z/")]), 1, state, step
    )
    got = _verdicts(spark, out)
    assert got[(10, "c.com/z")] == (10, False)  # batch-0 verdict stands
    assert got[(7, "c.com/z")] == (7, False)  # 7 < 10: new keep forward


def test_compaction_preserves_probe_and_verdicts(spark, tmp_path):
    state = str(tmp_path / "state")
    out = str(tmp_path / "verdicts")
    step = url_step(state, out)
    for bid, rows in enumerate([CORPUS[:3], CORPUS[3:]]):
        ingest.apply(_docs(spark, rows), bid, state, step)
    before = _verdicts(spark, out)
    compact_url_state(spark, state, out)
    assert _verdicts(spark, out) == before
    # a post-compaction batch still probes the collapsed seen-set
    ingest.apply(
        _docs(spark, [(9, "x https://a.com/x")]), 7, state, step
    )
    assert _verdicts(spark, out)[(9, "a.com/x")] == (1, True)


def test_streaming_end_to_end(spark, tmp_path):
    """foreachBatch drive over a file-source stream (availableNow):
    same verdicts as the batch operator over everything streamed."""
    src = str(tmp_path / "src")
    _docs(spark, CORPUS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    state = str(tmp_path / "state")
    q = ingest.start(
        stream, str(tmp_path / "ckpt"), state,
        url_step(state, str(tmp_path / "verdicts")),
    )
    q.awaitTermination(300)
    got = _verdicts(spark, str(tmp_path / "verdicts"))
    batch_keep = {
        r["canon_url"]: r["keep_doc_id"]
        for r in url_dedup_groups(_docs(spark, CORPUS)).collect()
    }
    assert len(got) == 6
    for (doc_id, canon), (keep, is_dup) in got.items():
        assert keep == batch_keep[canon]
        assert is_dup == (doc_id != keep)
