"""Web-archive (WARC) and tar-shard (WebDataset-style) ingestion —
the container formats large crawl/training corpora actually arrive in
(Common Crawl WARC/WET files; tar shards of grouped sample files).

``warc_records`` rides Spark's ``binaryFile`` source: one input row per
archive file, exploded to one output row per record inside a
``mapInPandas`` stage — a NARROW transform (no shuffle; parallelism =
file count, which at crawl scale is tens of thousands of ~1 GB shards,
far above any executor count). Record payloads stay opaque ``binary``
columns, so everything downstream (dedup, language ID, quality,
near-dup, media decode) composes without re-ingestion.

WARC parsing follows the public ISO 28500 / WARC-1.x format: records
are ``WARC/1.x`` + named headers + CRLFCRLF + Content-Length payload
bytes + CRLFCRLF; ``response`` records additionally carry an HTTP
envelope whose status line / headers / body are split out. Gzipped
archives (the Common Crawl layout: each record its own gzip member,
members concatenated) decompress through stdlib zlib member-walking.

Tar shards follow the WebDataset convention: member files that share a
basename (``key.ext``) form one training sample. ``tar_members`` reads
a shard's members with the stdlib ``tarfile`` reader over an in-memory
shard; ``streaming/tarstream.py`` groups them into samples.

Reference anchor: no counterpart in the reference (record/replay
tool); SURVEY.md §2.5a E100.
"""

from __future__ import annotations

import io
import tarfile
import zlib
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WARC_SCHEMA = StructType(
    [
        StructField("source_file", StringType(), False),
        StructField("record_idx", LongType(), False),
        StructField("warc_type", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("warc_date", StringType(), True),
        StructField("content_type", StringType(), True),
        StructField("http_status", LongType(), True),
        StructField("http_content_type", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("payload_bytes", LongType(), False),
    ]
)

def gunzip_members(payload: bytes) -> bytes:
    """Decompress a stream of CONCATENATED gzip members (the Common
    Crawl per-record layout) to one contiguous byte string."""
    out = bytearray()
    pos = 0
    while pos < len(payload):
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(payload[pos:])
        out += d.flush()
        tail = d.unused_data
        if not tail:
            break
        pos = len(payload) - len(tail)
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict[str, Any]]:
    """Parse one WARC file (plain or gzipped) into record dicts:
    ``{warc_type, target_uri, warc_date, content_type, http_status,
    http_content_type, payload}``. For ``response`` records the HTTP
    envelope is stripped: ``payload`` is the body, status and
    Content-Type surface as columns; other records keep their block
    verbatim."""
    if payload[:2] == b"\x1f\x8b":
        payload = gunzip_members(payload)
    records = []
    pos = 0
    n = len(payload)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and payload[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not payload.startswith(b"WARC/", pos):
            raise ValueError(f"bad WARC record header at offset {pos}")
        hdr_end = payload.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("WARC header block not terminated")
        lines = payload[pos:hdr_end].decode("utf-8", "replace").split("\r\n")
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record missing Content-Length") from None
        body_start = hdr_end + 4
        if body_start + length > n:
            raise ValueError("WARC record body overruns the file")
        block = payload[body_start : body_start + length]
        rec: dict[str, Any] = {
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "http_status": None,
            "http_content_type": None,
            "payload": block,
        }
        if (rec["warc_type"] == "response"
                and block[:5] in (b"HTTP/",)):
            http_end = block.find(b"\r\n\r\n")
            if http_end >= 0:
                http_lines = block[:http_end].decode(
                    "utf-8", "replace").split("\r\n")
                status_parts = http_lines[0].split()
                if len(status_parts) >= 2 and status_parts[1].isdigit():
                    rec["http_status"] = int(status_parts[1])
                for line in http_lines[1:]:
                    k, _, v = line.partition(":")
                    if k.strip().lower() == "content-type":
                        rec["http_content_type"] = v.strip()
                rec["payload"] = block[http_end + 4 :]
        records.append(rec)
        pos = body_start + length
    return records


def warc_records(files: DataFrame) -> DataFrame:
    """Explode a ``binaryFile`` DataFrame (path, content) into WARC
    record rows (WARC_SCHEMA) — one mapInPandas stage, no shuffle."""
    import pandas as pd  # noqa: PLC0415

    def explode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in WARC_SCHEMA.fields}
            for path, content in zip(pdf["path"], pdf["content"]):
                for i, rec in enumerate(parse_warc(bytes(content))):
                    rows["source_file"].append(path)
                    rows["record_idx"].append(i)
                    rows["warc_type"].append(rec["warc_type"])
                    rows["target_uri"].append(rec["target_uri"])
                    rows["warc_date"].append(rec["warc_date"])
                    rows["content_type"].append(rec["content_type"])
                    rows["http_status"].append(rec["http_status"])
                    rows["http_content_type"].append(rec["http_content_type"])
                    rows["payload"].append(rec["payload"])
                    rows["payload_bytes"].append(len(rec["payload"]))
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(explode, WARC_SCHEMA)


def tar_members(payload: bytes) -> list[tuple[str, bytes]]:
    """All regular-file members of an (optionally gzipped) in-memory
    tar shard, in archive order."""
    with tarfile.open(fileobj=io.BytesIO(payload)) as tf:
        out = []
        for m in tf:
            if m.isreg():
                f = tf.extractfile(m)
                out.append((m.name, f.read() if f else b""))
        return out
