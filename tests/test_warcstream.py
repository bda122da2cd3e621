"""Streaming WARC ingest (streaming/warcstream.py): shared-projection
prefix parity with the batch path, quarantine routing incl. the
non-document reason, crash-replay idempotence, compaction invariance,
and the foreachBatch end-to-end drive over a binaryFile stream."""

from __future__ import annotations

from kinesis_vcr_spark import statefs
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.htmlstream import (
    VERDICT_INVALID,
    VERDICT_KEPT,
    VERDICT_LANG,
    VERDICT_QUALITY,
)
from kinesis_vcr_spark.streaming.warcstream import (
    VERDICT_NON_DOCUMENT,
    compact_warc_state,
    warc_clean_verdicts,
    warc_step,
)
from test_webarchive import http_block, warc_record

GOOD = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "as the sun rises slowly over the quiet town and people start their "
    "day with fresh coffee and warm bread from the local bakery nearby"
)
SPANISH = (
    "el perro y el gato es un animal que no es una persona y el sol es "
    "una estrella en el cielo que no es un planeta"
)


def _archive_a() -> bytes:
    """warcinfo + kept doc + spanish doc + 404 + request."""
    return (
        warc_record("warcinfo", "urn:x", b"software: test\r\n")
        + warc_record("response", "http://a.example/good",
                      http_block(f"<p>{GOOD}</p>".encode()))
        + warc_record("response", "http://a.example/es",
                      http_block(f"<p>{SPANISH}</p>".encode()))
        + warc_record("response", "http://a.example/404",
                      http_block(b"gone", status=404))
        + warc_record("request", "http://a.example/good",
                      b"GET / HTTP/1.1\r\n")
    )


def _archive_b() -> bytes:
    """junk-quality doc + empty-extract doc + second kept doc."""
    return (
        warc_record("response", "http://b.example/junk",
                     http_block(b"<p>the 123 !!! ### the $$$ %%% "
                                b"the ^^^ &amp;&amp;&amp;</p>"))
        + warc_record("response", "http://b.example/empty",
                      http_block(b"<script>var x = 1;</script>"))
        + warc_record(
            "response", "http://b.example/good2",
            http_block(
                f"<div><p>{GOOD.replace('fox', 'wolf')}</p></div>".encode()
            ),
        )
    )


EXPECT = {
    "urn:x": VERDICT_NON_DOCUMENT,
    "http://a.example/good": VERDICT_KEPT,
    "http://a.example/es": VERDICT_LANG,
    "http://a.example/404": VERDICT_NON_DOCUMENT,
    # the request record shares the /good URI; keyed separately below
    "http://b.example/junk": VERDICT_QUALITY,
    "http://b.example/empty": VERDICT_INVALID,
    "http://b.example/good2": VERDICT_KEPT,
}


def _files(spark, tmp_path, archives):
    d = tmp_path / "warcs"
    d.mkdir(parents=True, exist_ok=True)
    for name, data in archives:
        (d / name).write_bytes(data)
    return spark.read.format("binaryFile").load(str(d))


def _landed(spark, out):
    got = {}
    for r in spark.read.parquet(f"{out}/clean").collect():
        got[(r["target_uri"], r["record_idx"])] = VERDICT_KEPT
    for r in spark.read.parquet(f"{out}/quarantine").collect():
        got[(r["target_uri"], r["record_idx"])] = r["reason"]
    return got


def test_verdicts_route_every_record(spark, tmp_path):
    files = _files(
        spark, tmp_path, [("a.warc", _archive_a()), ("b.warc", _archive_b())]
    )
    rows = warc_clean_verdicts(files).collect()
    assert len(rows) == 8
    got = {(r["target_uri"], r["record_idx"]): r for r in rows}
    for (uri, idx), r in got.items():
        if (uri, idx) == ("http://a.example/good", 4):
            assert r["verdict"] == VERDICT_NON_DOCUMENT  # the request rec
        else:
            assert r["verdict"] == EXPECT[uri], (uri, idx)
    kept = [r for r in rows if r["verdict"] == VERDICT_KEPT]
    assert {r["text"] for r in kept} == {GOOD, GOOD.replace("fox", "wolf")}
    # non-documents carry NULL text/scores, never garbage
    info = got[("urn:x", 0)]
    assert info["text"] is None and info["q"] is None


def test_prefix_parity_progress_and_replay(spark, tmp_path):
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    fa = _files(spark, tmp_path / "x1", [("a.warc", _archive_a())])
    fb = _files(spark, tmp_path / "x2", [("b.warc", _archive_b())])
    ingest.apply(fa, 0, state, warc_step(out))
    ingest.apply(fb, 1, state, warc_step(out))
    both = _files(
        spark, tmp_path / "x3",
        [("a.warc", _archive_a()), ("b.warc", _archive_b())],
    )
    batch = {
        (r["target_uri"], r["record_idx"]): r["verdict"]
        for r in warc_clean_verdicts(both).collect()
    }
    assert _landed(spark, out) == batch  # prefix parity with the batch op
    prog = ingest.read_progress(state, spark)
    assert prog == {
        "last_batch_id": 1, "records_seen": 8,
        "docs_kept": 2, "records_quarantined": 6,
    }
    # watermark: replaying an applied batch is a no-op
    before = _landed(spark, out)
    ingest.apply(fa, 0, state, warc_step(out))
    assert _landed(spark, out) == before
    # crash between writes and the bump: rewind watermark, re-apply
    p = statefs.read_json_state(spark, f"{state}/progress.json", {})
    p["last_batch_id"] = 0
    statefs.write_json_state(spark, f"{state}/progress.json", p)
    ingest.apply(fb, 1, state, warc_step(out))
    assert _landed(spark, out) == before
    assert ingest.read_progress(state, spark)["last_batch_id"] == 1
    # compaction is row-preserving
    compact_warc_state(spark, out)
    assert _landed(spark, out) == before


def test_streaming_end_to_end(spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.warc").write_bytes(_archive_a())
    (src / "b.warc").write_bytes(_archive_b())
    stream = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .load(str(src))
    )
    q = ingest.start(
        stream, str(tmp_path / "ckpt"), str(tmp_path / "state"),
        warc_step(str(tmp_path / "out")),
    )
    q.awaitTermination(300)
    landed = _landed(spark, str(tmp_path / "out"))
    assert len(landed) == 8
    assert sum(1 for v in landed.values() if v == VERDICT_KEPT) == 2
    prog = ingest.read_progress(str(tmp_path / "state"), spark)
    assert prog["records_seen"] == 8 and prog["docs_kept"] == 2
