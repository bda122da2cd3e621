"""WARC / tar-shard ingestion (operators/webarchive.py) against
INDEPENDENT in-test writers (hand-built WARC bytes per the public ISO
28500 layout; stdlib tarfile as the tar reference), plus gzip
member-concatenation and the Spark binaryFile→mapInPandas path. Tar
samples are grouped by the tar-shard stream's single projection
(streaming/tarstream.py:tar_sample_verdicts)."""

from __future__ import annotations

import gzip
import io
import tarfile

import numpy as np
import pytest

from kinesis_vcr_spark.operators.webarchive import (
    gunzip_members,
    parse_warc,
    tar_members,
    warc_records,
)
from kinesis_vcr_spark.streaming.tarstream import (
    VERDICT_NON_MEDIA,
    tar_sample_verdicts,
)


def shard_files(spark, path):
    return spark.read.format("binaryFile").load(str(path))


def warc_record(rtype: str, uri: str, block: bytes,
                extra: dict | None = None) -> bytes:
    headers = [f"WARC/1.0", f"WARC-Type: {rtype}",
               f"WARC-Target-URI: {uri}",
               "WARC-Date: 2026-08-16T00:00:00Z",
               "Content-Type: application/http;msgtype=response"
               if rtype == "response" else "Content-Type: text/plain"]
    for k, v in (extra or {}).items():
        headers.append(f"{k}: {v}")
    headers.append(f"Content-Length: {len(block)}")
    return ("\r\n".join(headers) + "\r\n\r\n").encode() + block + b"\r\n\r\n"


def http_block(body: bytes, status: int = 200,
               ctype: str = "text/html") -> bytes:
    return (f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode() + body


def test_parse_warc_plain_and_response_split():
    body = b"<html>hello</html>"
    data = (
        warc_record("warcinfo", "urn:x", b"software: test\r\n")
        + warc_record("response", "http://a.example/", http_block(body))
        + warc_record("response", "http://b.example/",
                      http_block(b"x" * 100, status=404, ctype="text/plain"))
        + warc_record("request", "http://a.example/", b"GET / HTTP/1.1\r\n")
    )
    recs = parse_warc(data)
    assert [r["warc_type"] for r in recs] == [
        "warcinfo", "response", "response", "request"]
    assert recs[1]["payload"] == body
    assert recs[1]["http_status"] == 200
    assert recs[1]["http_content_type"] == "text/html"
    assert recs[2]["http_status"] == 404
    assert recs[2]["payload"] == b"x" * 100
    assert recs[3]["payload"].startswith(b"GET /")
    assert recs[3]["http_status"] is None


def test_parse_warc_gzip_members():
    # Common Crawl layout: each record its own gzip member, concatenated
    recs_raw = [
        warc_record("response", f"http://{i}.example/",
                    http_block(bytes([65 + i]) * (10 + i)))
        for i in range(5)
    ]
    gz = b"".join(gzip.compress(r) for r in recs_raw)
    assert gunzip_members(gz) == b"".join(recs_raw)
    recs = parse_warc(gz)
    assert len(recs) == 5
    assert recs[3]["payload"] == b"D" * 13


def test_parse_warc_malformed_fails_loud():
    with pytest.raises(ValueError, match="bad WARC record"):
        parse_warc(b"NOT A WARC")
    truncated = warc_record("response", "http://x/", http_block(b"abc"))[:-20]
    with pytest.raises(ValueError, match="overruns"):
        parse_warc(truncated)


def test_read_warc_spark_path(spark, tmp_path):
    files = []
    for f in range(3):
        data = b"".join(
            warc_record("response", f"http://f{f}.example/{i}",
                        http_block(f"doc-{f}-{i}".encode() * 5))
            for i in range(4)
        )
        name = tmp_path / f"crawl-{f}.warc"
        if f == 2:  # one gzipped shard
            name = tmp_path / "crawl-2.warc.gz"
            name.write_bytes(b"".join(
                gzip.compress(warc_record(
                    "response", f"http://f2.example/{i}",
                    http_block(f"doc-2-{i}".encode() * 5)))
                for i in range(4)
            ))
        else:
            name.write_bytes(data)
        files.append(name)
    df = warc_records(shard_files(spark, tmp_path))
    rows = df.collect()
    assert len(rows) == 12
    assert all(r["http_status"] == 200 for r in rows)
    assert {r["record_idx"] for r in rows} == {0, 1, 2, 3}
    got = {(r["target_uri"], bytes(r["payload"])) for r in rows}
    assert ("http://f1.example/2", b"doc-1-2" * 5) in got
    # plan shape: narrow — no exchange before the record explosion
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_tar_members_and_webdataset_grouping(spark, tmp_path):
    def shard(i: int) -> bytes:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for k in range(3):
                key = f"s{i:02d}k{k:02d}"
                for ext, data in ((f"txt", f"text {i}/{k}".encode()),
                                  (f"cls", str(k).encode()),
                                  (f"bin", bytes([k]) * 7)):
                    info = tarfile.TarInfo(f"{key}.{ext}")
                    payload = data
                    info.size = len(payload)
                    tf.addfile(info, io.BytesIO(payload))
        return buf.getvalue()

    raw = shard(0)
    members = tar_members(raw)
    assert len(members) == 9
    assert members[0][0] == "s00k00.txt"

    for i in range(2):
        (tmp_path / f"shard-{i}.tar").write_bytes(shard(i))
    rows = tar_sample_verdicts(shard_files(spark, tmp_path)).collect()
    assert len(rows) == 6  # 3 samples x 2 shards
    by_key = {r["key"]: r for r in rows}
    s = by_key["s01k02"]
    assert s["source_file"].endswith("shard-1.tar")
    assert s["verdict"] == VERDICT_NON_MEDIA
    assert s["payload_bytes"] == len(b"text 1/2") + 1 + 7


def test_tar_samples_key_includes_directories(spark, tmp_path):
    """ADVICE r10: WebDataset keys are the FULL member path up to the
    basename's first dot — a/0001.jpg and b/0001.jpg are distinct
    samples, not one silently-merged row."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for d in ("a", "b"):
            for ext, data in (("txt", f"{d}-text".encode()),
                              ("cls", d.encode())):
                info = tarfile.TarInfo(f"{d}/0001.{ext}")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
    (tmp_path / "dirs.tar").write_bytes(buf.getvalue())
    rows = tar_sample_verdicts(shard_files(spark, tmp_path)).collect()
    assert len(rows) == 2
    by_key = {r["key"]: r for r in rows}
    assert set(by_key) == {"a/0001", "b/0001"}
    assert by_key["a/0001"]["payload_bytes"] == len(b"a-text") + 1
    assert by_key["b/0001"]["payload_bytes"] == len(b"b-text") + 1
