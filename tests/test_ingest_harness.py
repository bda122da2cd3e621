"""The shared ingest harness (streaming/ingest.py) under every streaming
loop: each crash point replays into the uncrashed run's scopes and
progress, a committed replay launches no Spark job, jobs per applied
micro-batch stay under a pinned ceiling, and every batch logs exactly one
structured record.

Each loop's step comes from its step factory and runs through
``ingest.apply`` with the sibling tests' small fixtures, two
micro-batches per loop. A source scan pins that the streaming package
has this one harness: no loop wires ``foreachBatch`` or the watermark
file itself.
"""

from __future__ import annotations

import ast
import datetime
import json
import logging
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark import statefs
from kinesis_vcr_spark.operators.components import connected_components
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
from test_cacheutil import _code_strings
from test_searchindex import TERMS
from test_streaming_graph import GRAPH
from test_tarstream import _shard_a, _shard_b
from test_urlstream import CORPUS as URL_CORPUS
from test_warcstream import _archive_a, _archive_b


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


# loop -> (step(d), batches(spark, sf_dir, tmp_path), ceilings): the
# step keeps its state under ``d/state``; ``ceilings`` are the Spark
# jobs each applied micro-batch may launch
LOOPS = {
    "url": (
        lambda d: urlstream.url_step(f"{d}/state", f"{d}/out"),
        lambda spark, sf, tmp: _halves(spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in URL_CORPUS]
        ), "doc_id"),
        (6, 9),
    ),
    "html": (
        lambda d: htmlstream.html_step(f"{d}/out"),
        lambda spark, sf, tmp: _halves(spark.createDataFrame(
            HTML_CORPUS, "doc_id bigint, html string"
        ), "doc_id"),
        (2, 2),
    ),
    "warc": (
        lambda d: warcstream.warc_step(f"{d}/out"),
        lambda spark, sf, tmp: _files(
            spark, tmp, "warc", [_archive_a(), _archive_b()]
        ),
        (2, 2),
    ),
    "tar": (
        lambda d: tarstream.tar_step(f"{d}/out"),
        lambda spark, sf, tmp: _files(
            spark, tmp, "tar", [_shard_a(), _shard_b()]
        ),
        (2, 2),
    ),
    "ann": (
        lambda d: annstream.ann_step(
            f"{d}/state", f"{d}/out", k=5, nprobe=3, k_centroids=8,
        ),
        lambda spark, sf, tmp: _halves(load_table(
            spark, sf, "embeddings"
        ).select("vec_id", "embedding"), "vec_id"),
        (16, 17),
    ),
    "neardup": (
        lambda d: neardup.neardup_step(
            f"{d}/state", f"{d}/out", id_col="doc_id", text_col="text",
            band_member_cap=None,
        ),
        lambda spark, sf, tmp: _docs(spark, sf),
        (14, 22),
    ),
    "span": (
        lambda d: spanstream.span_step(f"{d}/state", f"{d}/out", min_len=40),
        lambda spark, sf, tmp: _docs(spark, sf),
        (12, 12),
    ),
    "search": (
        lambda d: searchstream.search_step(f"{d}/state", f"{d}/out", TERMS),
        lambda spark, sf, tmp: _docs(spark, sf),
        (21, 20),
    ),
    "seasonal": (
        lambda d: seasonalstream.seasonal_step(
            f"{d}/state", f"{d}/out", key_cols=["event_type"]
        ),
        lambda spark, sf, tmp: _events(spark),
        (11, 11),
    ),
    "triangles": (
        lambda d: graph.triangle_step(f"{d}/state", src_col="a", dst_col="b"),
        lambda spark, sf, tmp: _edges(spark),
        (21, 21),
    ),
    "snapshot": (
        lambda d: graph.snapshot_step(
            f"{d}/state", f"{d}/out", src_col="a", dst_col="b",
            batch_fn=lambda e: connected_components(e, "a", "b"),
        ),
        lambda spark, sf, tmp: _edges(spark),
        (15, 25),
    ),
}


class _Crash(Exception):
    pass


@pytest.mark.parametrize("loop", list(LOOPS))
def test_crash_points_replay_to_the_uncrashed_run(
    spark, sf_dir, tmp_path, monkeypatch, caplog, count_jobs, landed, loop
):
    make_step, frames, ceilings = LOOPS[loop]
    batches = frames(spark, sf_dir, tmp_path)
    caplog.set_level(logging.INFO, logger=ingest.__name__)
    ref, run = tmp_path / "ref", tmp_path / "run"
    step_ref, step_run = make_step(str(ref)), make_step(str(run))

    def apply_ref(batch, batch_id):
        ingest.apply(batch, batch_id, f"{ref}/state", step_ref)

    def apply_run(batch, batch_id):
        ingest.apply(batch, batch_id, f"{run}/state", step_run)

    # uncrashed run, jobs per applied micro-batch pinned; the crash run
    # resumes from a copy of its state after batch 0
    jobs = [count_jobs(lambda: apply_ref(batches[0], 0))[0]]
    shutil.copytree(ref, run)
    jobs.append(count_jobs(lambda: apply_ref(batches[1], 1))[0])
    assert all(n <= c for n, c in zip(jobs, ceilings)), (jobs, ceilings)
    expected = landed(ref)
    after_b0 = landed(run)[1]

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
    assert landed(run)[1] == after_b0
    apply_run(batches[1], 1)
    assert landed(run) == expected

    # (b) every write landed but the watermark was rewound
    statefs.write_json_state(spark, f"{run}/state/progress.json", after_b0)
    apply_run(batches[1], 1)
    assert landed(run) == expected

    # (c) a committed batch replayed: no Spark job, progress unchanged
    assert count_jobs(lambda: apply_run(batches[1], 1))[0] == 0
    assert landed(run)[1] == expected[1]

    # one structured record per completed batch; none for the crash
    records = [
        json.loads(r.getMessage())
        for r in caplog.records if r.name == ingest.__name__
    ]
    assert [(r["batch_id"], r["replay_skipped"]) for r in records] == [
        (0, False), (1, False), (1, False), (1, False), (1, True),
    ]
    assert {r["loop"] for r in records} == {
        f"{step_ref.__module__.rsplit('.', 1)[-1]}."
        f"{step_ref.__qualname__.split('.', 1)[0]}"
    }
    assert records[0]["loop"].endswith("_step")
    bumped = {
        k: after_b0.get(k, 0) + v for k, v in records[1]["increments"].items()
    }
    assert {**after_b0, "last_batch_id": 1, **bumped} == expected[1]
    assert records[-1]["increments"] == {}
    assert all(r["seconds"] >= 0 for r in records)


def test_streaming_package_has_one_ingest_harness():
    """Only ``ingest.py`` (and ``record.py``, the paper's record verb)
    wire ``foreachBatch``; only ``ingest.py`` names the watermark file;
    no loop declares progress defaults or a progress reader of its
    own."""
    wires, names_watermark, own_progress = [], [], []
    for p in sorted(Path(ingest.__file__).resolve().parent.glob("*.py")):
        source = p.read_text()
        nodes = list(ast.walk(ast.parse(source)))
        if any(
            getattr(n, "attr", getattr(n, "id", None)) == "foreachBatch"
            for n in nodes
        ):
            wires.append(p.name)
        if any("progress.json" in c for c in _code_strings(source)):
            names_watermark.append(p.name)
        own_progress += [
            f"{p.name}:{name}"
            for n in nodes
            if isinstance(n, (ast.FunctionDef, ast.Name))
            for name in [getattr(n, "name", getattr(n, "id", ""))]
            if re.fullmatch(r"_DEFAULT_PROGRESS|read_\w+_progress", name)
        ]
    assert wires == ["ingest.py", "record.py"]
    assert names_watermark == ["ingest.py"]
    assert own_progress == []
