"""Streaming tar-shard ingest (streaming/tarstream.py): shared
projection prefix parity with the batch path, media-kind routing,
malformed-payload quarantine through the real codecs, crash-replay
idempotence, compaction invariance, and the foreachBatch end-to-end
drive over a binaryFile stream — the tar twin of test_warcstream.py."""

from __future__ import annotations

import io
import struct
import tarfile
import wave

from kinesis_vcr_spark import statefs
from kinesis_vcr_spark.streaming import ingest
from kinesis_vcr_spark.streaming.tarstream import (
    VERDICT_KEPT,
    VERDICT_NON_MEDIA,
    VERDICT_UNDECODABLE,
    compact_tar_state,
    tar_sample_verdicts,
    tar_step,
)


def _ppm(w, h, val=7):
    return f"P6\n{w} {h}\n255\n".encode() + bytes([val]) * (w * h * 3)


def _wav(n_frames=64, value=1000):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack(f"<{n_frames}h", *([value] * n_frames)))
    return buf.getvalue()


def _shard(samples: dict[str, dict[str, bytes]]) -> bytes:
    """WebDataset shard: {key: {ext: payload}} in insertion order."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for key, parts in samples.items():
            for ext, data in parts.items():
                info = tarfile.TarInfo(f"{key}.{ext}")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _shard_a() -> bytes:
    """image sample + audio sample + text-only sample."""
    return _shard({
        "0001": {"ppm": _ppm(4, 3), "txt": b"a caption", "json": b"{}"},
        "0002": {"wav": _wav(64), "txt": b"speech"},
        "0003": {"txt": b"no media here", "json": b"{}"},
    })


def _shard_b() -> bytes:
    """truncated image (quarantines) + second good image."""
    return _shard({
        "0004": {"ppm": _ppm(8, 8)[:20], "txt": b"cut off"},
        "0005": {"ppm": _ppm(2, 2, val=9)},
    })


EXPECT = {
    "0001": VERDICT_KEPT,
    "0002": VERDICT_KEPT,
    "0003": VERDICT_NON_MEDIA,
    "0004": VERDICT_UNDECODABLE,
    "0005": VERDICT_KEPT,
}


def _files(spark, tmp_path, shards):
    d = tmp_path / "shards"
    d.mkdir(parents=True, exist_ok=True)
    for name, data in shards:
        (d / name).write_bytes(data)
    return spark.read.format("binaryFile").load(str(d))


def _landed(spark, out):
    got = {}
    for r in spark.read.parquet(f"{out}/features").collect():
        got[r["key"]] = VERDICT_KEPT
    for r in spark.read.parquet(f"{out}/quarantine").collect():
        got[r["key"]] = r["reason"]
    return got


def test_verdicts_route_every_sample(spark, tmp_path):
    files = _files(
        spark, tmp_path, [("a.tar", _shard_a()), ("b.tar", _shard_b())]
    )
    rows = tar_sample_verdicts(files).collect()
    assert len(rows) == 5
    got = {r["key"]: r for r in rows}
    for key, want in EXPECT.items():
        assert got[key]["verdict"] == want, key
    # real-codec features, not plumbing stubs
    img = got["0001"]
    assert (img["kind"], img["ext"]) == ("image", "ppm")
    assert (img["width"], img["height"]) == (4, 3)
    snd = got["0002"]
    assert (snd["kind"], snd["ext"]) == ("audio", "wav")
    assert snd["width"] == 64 and snd["height"] == 1
    # non-media / undecodable carry NULL features, never garbage
    assert got["0003"]["kind"] is None and got["0003"]["width"] is None
    assert got["0004"]["kind"] == "image" and got["0004"]["width"] is None
    # payload_bytes counts ALL parts of the sample (audit trail)
    assert got["0001"]["payload_bytes"] == len(_ppm(4, 3)) + 11


def test_prefix_parity_progress_and_replay(spark, tmp_path):
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    fa = _files(spark, tmp_path / "x1", [("a.tar", _shard_a())])
    fb = _files(spark, tmp_path / "x2", [("b.tar", _shard_b())])
    ingest.apply(fa, 0, state, tar_step(out))
    ingest.apply(fb, 1, state, tar_step(out))
    both = _files(
        spark, tmp_path / "x3",
        [("a.tar", _shard_a()), ("b.tar", _shard_b())],
    )
    batch = {
        r["key"]: r["verdict"]
        for r in tar_sample_verdicts(both).collect()
    }
    assert _landed(spark, out) == batch  # prefix parity with the batch op
    prog = ingest.read_progress(state, spark)
    assert prog == {
        "last_batch_id": 1, "samples_seen": 5,
        "samples_kept": 3, "samples_quarantined": 2,
    }
    # watermark: replaying an applied batch is a no-op
    before = _landed(spark, out)
    ingest.apply(fa, 0, state, tar_step(out))
    assert _landed(spark, out) == before
    # crash between writes and the bump: rewind watermark, re-apply
    p = statefs.read_json_state(spark, f"{state}/progress.json", {})
    p["last_batch_id"] = 0
    statefs.write_json_state(spark, f"{state}/progress.json", p)
    ingest.apply(fb, 1, state, tar_step(out))
    assert _landed(spark, out) == before
    assert ingest.read_progress(state, spark)["last_batch_id"] == 1
    # compaction is row-preserving
    compact_tar_state(spark, out)
    assert _landed(spark, out) == before


def test_streaming_end_to_end(spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.tar").write_bytes(_shard_a())
    (src / "b.tar").write_bytes(_shard_b())
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
        tar_step(str(tmp_path / "out")),
    )
    q.awaitTermination(300)
    landed = _landed(spark, str(tmp_path / "out"))
    assert landed == EXPECT
    prog = ingest.read_progress(str(tmp_path / "state"), spark)
    assert prog["samples_seen"] == 5 and prog["samples_kept"] == 3
