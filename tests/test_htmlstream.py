"""Streaming HTML ingest (streaming/htmlstream.py): prefix-parity with
the shared verdict projection, quarantine routing + reasons,
crash-replay idempotence, empty-scope read-back, compaction
invariance, and the foreachBatch end-to-end drive."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark import statefs
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.htmlstream import (
    VERDICT_INVALID,
    VERDICT_KEPT,
    VERDICT_LANG,
    VERDICT_QUALITY,
    compact_html_state,
    html_quality_verdicts,
    html_step,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "as the sun rises slowly over the quiet town and people start their "
    "day with fresh coffee and warm bread from the local bakery nearby"
)

CORPUS = [
    (1, "<html><body><p>" + GOOD + "</p></body></html>"),
    (2, "<p>el perro y el gato es un animal que no es una persona y "
        "el sol es una estrella en el cielo que no es un planeta</p>"),
    # 'the' makes langid say en (all-zero profiles tie-break to 'de',
    # so pure junk would quarantine as lang, not quality)
    (3, "<p>the 123 !!! ### the $$$ %%% the ^^^ &amp;&amp;&amp;</p>"),
    (4, None),  # NULL html → invalid
    (5, "<script>var x = 1;</script><style>p{}</style>"),  # extracts to ''
    (6, "<div><p>" + GOOD.replace("fox", "wolf") + "</p></div>"),
]

EXPECT = {
    1: VERDICT_KEPT,
    2: VERDICT_LANG,
    3: VERDICT_QUALITY,
    4: VERDICT_INVALID,
    5: VERDICT_INVALID,
    6: VERDICT_KEPT,
}


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, html=h) for i, h in rows],
        "doc_id bigint, html string",
    )


def _landed(spark, out):
    """{doc_id: verdict} reconstructed from the clean + quarantine
    scopes (what a downstream consumer sees)."""
    got = {}
    for r in spark.read.parquet(f"{out}/clean").collect():
        got[r["doc_id"]] = VERDICT_KEPT
    for r in spark.read.parquet(f"{out}/quarantine").collect():
        got[r["doc_id"]] = r["reason"]
    return got


def test_verdict_projection_stage_order(spark):
    got = {
        r["doc_id"]: (r["verdict"], r["pred_lang"], r["q"])
        for r in html_quality_verdicts(_docs(spark, CORPUS)).collect()
    }
    for i, v in EXPECT.items():
        assert got[i][0] == v, (i, got[i])
    # invalid rows carry NULL scores, never garbage
    assert got[4][1] is None and got[4][2] is None
    assert got[5][1] is None and got[5][2] is None
    assert got[2][1] == "es"


def test_prefix_parity_and_progress(spark, tmp_path):
    """Union of per-batch clean+quarantine scopes == the shared verdict
    projection over everything streamed; counters are exact."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    for bid, rows in enumerate([CORPUS[:2], CORPUS[2:4], CORPUS[4:]]):
        ingest.apply(_docs(spark, rows), bid, state, html_step(out))
    assert _landed(spark, out) == EXPECT
    prog = ingest.read_progress(state)
    assert prog == {
        "last_batch_id": 2, "docs_seen": 6,
        "docs_kept": 2, "docs_quarantined": 4,
    }
    # kept rows carry the extracted text the downstream stages consume
    clean = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{out}/clean").collect()
    }
    assert clean[1] == GOOD and "wolf" in clean[6]


def test_empty_quarantine_scope_reads_back(spark, tmp_path):
    """A batch with zero rejects still lands a readable (empty)
    quarantine scope — the union read must not break on it."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    ingest.apply(_docs(spark, [CORPUS[0]]), 0, state, html_step(out))
    assert _landed(spark, out) == {1: VERDICT_KEPT}
    assert ingest.read_progress(state)["docs_quarantined"] == 0


def test_watermark_and_crash_replay(spark, tmp_path):
    """Replaying an applied batch is a no-op (watermark); re-running a
    half-applied batch (scopes landed, watermark not bumped) overwrites
    into identical bytes."""
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    ingest.apply(_docs(spark, CORPUS[:3]), 0, state, html_step(out))
    before = _landed(spark, out)
    # watermark
    ingest.apply(_docs(spark, CORPUS[:3]), 0, state, html_step(out))
    assert _landed(spark, out) == before
    ingest.apply(_docs(spark, CORPUS[3:]), 1, state, html_step(out))
    after = _landed(spark, out)
    # crash between writes: rewind the watermark through statefs (a
    # plain open() hand-edit would strand the .crc sidecar)
    prog = statefs.read_json_state(spark, f"{state}/progress.json", {})
    prog["last_batch_id"] = 0
    statefs.write_json_state(spark, f"{state}/progress.json", prog)
    ingest.apply(_docs(spark, CORPUS[3:]), 1, state, html_step(out))  # replay
    assert _landed(spark, out) == after
    assert ingest.read_progress(state)["last_batch_id"] == 1


def test_compaction_preserves_outputs(spark, tmp_path):
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    for bid, rows in enumerate([CORPUS[:3], CORPUS[3:]]):
        ingest.apply(_docs(spark, rows), bid, state, html_step(out))
    before = _landed(spark, out)
    compact_html_state(spark, out)
    assert _landed(spark, out) == before


def test_streaming_end_to_end(spark, tmp_path):
    """foreachBatch drive over a file-source stream (availableNow)."""
    src = str(tmp_path / "src")
    _docs(spark, CORPUS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, html string").parquet(src)
    q = ingest.start(
        stream, str(tmp_path / "ckpt"), str(tmp_path / "state"),
        html_step(str(tmp_path / "out")),
    )
    q.awaitTermination(300)
    assert _landed(spark, str(tmp_path / "out")) == EXPECT
    prog = ingest.read_progress(str(tmp_path / "state"))
    assert prog["docs_seen"] == 6 and prog["docs_kept"] == 2


def test_quality_threshold_is_tunable(spark):
    out = html_quality_verdicts(
        _docs(spark, [CORPUS[0]]), quality_threshold=0.99
    ).collect()
    assert out[0]["verdict"] == VERDICT_QUALITY
