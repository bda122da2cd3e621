"""The shared ingest harness (streaming/ingest.py) under every streaming
loop: each crash point replays into the uncrashed run's scopes and
progress, a committed replay launches no Spark job, jobs per applied
micro-batch stay under a pinned ceiling, and every batch logs exactly one
structured record.

Each loop's ``process(batch_df, batch_id)`` is taken from its public
start function (``ingest.start`` patched to hand it back) and driven
with the sibling tests' small fixtures, two micro-batches per loop.
"""

from __future__ import annotations

import datetime
import json
import logging
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark import statefs
from kinesis_vcr_spark.streaming import (
    annstream,
    graph,
    htmlstream,
    ingest,
    neardup,
    searchstream,
    seasonalstream,
    spanstream,
    tarstream,
    urlstream,
    warcstream,
)
from kinesis_vcr_spark.tables import load_table
from test_htmlstream import CORPUS as HTML_CORPUS
from test_searchindex import TERMS
from test_streaming_graph import GRAPH
from test_tarstream import _shard_a, _shard_b
from test_urlstream import CORPUS as URL_CORPUS
from test_warcstream import _archive_a, _archive_b

CKPT = "unused-checkpoint"


def _files(spark, tmp_path, name, payloads):
    frames = []
    for i, data in enumerate(payloads):
        d = tmp_path / "src" / f"{name}{i}"
        d.mkdir(parents=True)
        (d / f"part.{name}").write_bytes(data)
        frames.append(spark.read.format("binaryFile").load(str(d)))
    return frames


def _halves(df, col):
    return [df.where(F.pmod(col, F.lit(2)) == i) for i in range(2)]


def _docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _halves(docs, "doc_id")


def _events(spark):
    base = datetime.datetime(2024, 1, 1, 12, 0)
    rows = []
    for day in range(28):
        ts = base + datetime.timedelta(days=day)
        rows.append((2 * day, ts, "a", 10.0 if day == 14 else 2.0 + day % 3))
        rows.append((2 * day + 1, ts, "b", 5.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    return [ev.where(F.dayofmonth("ts") <= 14),
            ev.where(F.dayofmonth("ts") > 14)]


def _edges(spark):
    def frame(pairs):
        return spark.createDataFrame([Row(a=a, b=b) for a, b in pairs])

    return [frame(GRAPH[:6]), frame(GRAPH[6:] + [(2, 1)])]


# loop -> (start(d): process, batches(spark, sf_dir, tmp_path), ceilings):
# ``ceilings`` are the Spark jobs each applied micro-batch may launch
LOOPS = {
    "url": (
        lambda d: urlstream.streaming_url_dedup(
            None, f"{d}/state", CKPT, f"{d}/out"
        ),
        lambda spark, sf, tmp: _halves(spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in URL_CORPUS]
        ), "doc_id"),
        (6, 9),
    ),
    "html": (
        lambda d: htmlstream.streaming_html_ingest(
            None, f"{d}/state", CKPT, f"{d}/out"
        ),
        lambda spark, sf, tmp: _halves(spark.createDataFrame(
            HTML_CORPUS, "doc_id bigint, html string"
        ), "doc_id"),
        (2, 2),
    ),
    "warc": (
        lambda d: warcstream.streaming_warc_ingest(
            None, f"{d}/state", CKPT, f"{d}/out"
        ),
        lambda spark, sf, tmp: _files(
            spark, tmp, "warc", [_archive_a(), _archive_b()]
        ),
        (2, 2),
    ),
    "tar": (
        lambda d: tarstream.streaming_tar_ingest(
            None, f"{d}/state", CKPT, f"{d}/out"
        ),
        lambda spark, sf, tmp: _files(
            spark, tmp, "tar", [_shard_a(), _shard_b()]
        ),
        (2, 2),
    ),
    "ann": (
        lambda d: annstream.streaming_ann_ingest(
            None, f"{d}/state", CKPT, f"{d}/out",
            k=5, nprobe=3, k_centroids=8,
        ),
        lambda spark, sf, tmp: _halves(load_table(
            spark, sf, "embeddings"
        ).select("vec_id", "embedding"), "vec_id"),
        (16, 17),
    ),
    "neardup": (
        lambda d: neardup.streaming_near_dup(
            None, "doc_id", "text", f"{d}/state", CKPT, f"{d}/out",
            band_member_cap=None,
        ),
        lambda spark, sf, tmp: _docs(spark, sf),
        (14, 22),
    ),
    "span": (
        lambda d: spanstream.streaming_span_dedup(
            None, f"{d}/state", CKPT, f"{d}/out", min_len=40
        ),
        lambda spark, sf, tmp: _docs(spark, sf),
        (12, 12),
    ),
    "search": (
        lambda d: searchstream.streaming_search_ingest(
            None, f"{d}/state", CKPT, f"{d}/out", TERMS
        ),
        lambda spark, sf, tmp: _docs(spark, sf),
        (21, 20),
    ),
    "seasonal": (
        lambda d: seasonalstream.streaming_seasonal(
            None, ["event_type"], f"{d}/state", CKPT, f"{d}/out"
        ),
        lambda spark, sf, tmp: _events(spark),
        (11, 11),
    ),
    "triangles": (
        lambda d: graph.streaming_triangle_count(
            None, "a", "b", f"{d}/state", CKPT
        ),
        lambda spark, sf, tmp: _edges(spark),
        (21, 21),
    ),
    "snapshot": (
        lambda d: graph.streaming_connected_components(
            None, "a", "b", f"{d}/state", CKPT, f"{d}/out"
        ),
        lambda spark, sf, tmp: _edges(spark),
        (15, 25),
    ),
}


class _Crash(Exception):
    pass


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"ingest-harness-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _state(root):
    """Every parquet row under ``root`` keyed by directory, plus the
    progress watermark."""
    landed: dict[str, list[str]] = {}
    for f in root.rglob("*.parquet"):
        rows = [repr(sorted(r.items())) for r in pq.read_table(f).to_pylist()]
        landed.setdefault(str(f.parent.relative_to(root)), []).extend(rows)
    progress = json.loads((root / "state" / "progress.json").read_text())
    return {k: sorted(v) for k, v in landed.items()}, progress


@pytest.mark.parametrize("loop", list(LOOPS))
def test_crash_points_replay_to_the_uncrashed_run(
    spark, sf_dir, tmp_path, monkeypatch, caplog, loop
):
    start, frames, ceilings = LOOPS[loop]
    batches = frames(spark, sf_dir, tmp_path)
    monkeypatch.setattr(ingest, "start", lambda df, ckpt, process: process)
    caplog.set_level(logging.INFO, logger=ingest.__name__)
    ref, run = tmp_path / "ref", tmp_path / "run"
    apply_ref, apply_run = start(str(ref)), start(str(run))

    # uncrashed run, jobs per applied micro-batch pinned; the crash run
    # resumes from a copy of its state after batch 0
    jobs = [_jobs(spark, lambda: apply_ref(batches[0], 0))]
    shutil.copytree(ref, run)
    jobs.append(_jobs(spark, lambda: apply_ref(batches[1], 1)))
    assert all(n <= c for n, c in zip(jobs, ceilings)), (jobs, ceilings)
    expected = _state(ref)
    after_b0 = _state(run)[1]

    # (a) the step raises after its first scope write: the watermark
    # stays put and the rerun lands the uncrashed run's bytes
    write_scope = ingest.write_scope

    def crash_after_write(*args, **kwargs):
        write_scope(*args, **kwargs)
        raise _Crash

    monkeypatch.setattr(ingest, "write_scope", crash_after_write)
    with pytest.raises(_Crash):
        apply_run(batches[1], 1)
    monkeypatch.setattr(ingest, "write_scope", write_scope)
    assert _state(run)[1] == after_b0
    apply_run(batches[1], 1)
    assert _state(run) == expected

    # (b) every write landed but the watermark was rewound
    statefs.write_json_state(spark, f"{run}/state/progress.json", after_b0)
    apply_run(batches[1], 1)
    assert _state(run) == expected

    # (c) a committed batch replayed: no Spark job, progress unchanged
    assert _jobs(spark, lambda: apply_run(batches[1], 1)) == 0
    assert _state(run)[1] == expected[1]

    # one structured record per completed batch; none for the crash
    records = [
        json.loads(r.getMessage())
        for r in caplog.records if r.name == ingest.__name__
    ]
    assert [(r["batch_id"], r["replay_skipped"]) for r in records] == [
        (0, False), (1, False), (1, False), (1, False), (1, True),
    ]
    assert len({r["loop"] for r in records}) == 1
    bumped = {k: after_b0[k] + v for k, v in records[1]["increments"].items()}
    assert {**after_b0, "last_batch_id": 1, **bumped} == expected[1]
    assert records[-1]["increments"] == {}
    assert all(r["seconds"] >= 0 for r in records)
