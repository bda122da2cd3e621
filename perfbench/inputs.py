"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the seed: numpy builds the record
streams, ``tools/gen_testdata.gen`` builds the corpus. Nothing is read
from outside the output directory.

Every generated payload starts with its record id as 8 big-endian bytes,
so payloads are unique and a payload seen twice at the sink is a double
delivery. A payload is identified by its fingerprint row
``(id, length, crc32)``; a set of payloads by the sorted fingerprint
rows (:func:`canonical`).
"""

from __future__ import annotations

import binascii
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Kinesis PutRecords per-call data cap; records above it are legal
#: Kinesis records (up to 1 MiB) that replay's batcher drops.
BATCH_BYTES_CAP = 1_000_000
RECORD_BYTES_MAX = 1_048_576
SHARDS = 8

# The large_records stream: records of about 20 KB (lognormal), 0.1% of
# them between the batch cap and the record cap, written as FILES parquet
# files that record reads FILES_PER_TRIGGER per micro-batch.
RECORDS = 2_000
MEDIAN_BYTES = 20_000
SIGMA = 0.6
OVERSIZE = 2
FILES = 8
FILES_PER_TRIGGER = 2


def fingerprint_one(payload: bytes) -> tuple[int, int, int]:
    return int.from_bytes(payload[:8], "big"), len(payload), zlib.crc32(payload)


def canonical(rows) -> np.ndarray:
    """Fingerprint rows as an (n, 3) uint64 array sorted by id, length,
    crc — two payload multisets are equal iff their canonical arrays are."""
    arr = np.asarray(rows, dtype=np.uint64).reshape(-1, 3)
    order = np.lexsort((arr[:, 2], arr[:, 1], arr[:, 0]))
    return arr[order]


def base64_line_bytes(lengths: np.ndarray) -> int:
    """Bytes of the archive text for payloads of these lengths: one
    padded base64 line plus newline each."""
    return int((4 * ((lengths.astype(np.int64) + 2) // 3) + 1).sum())


def archive_fingerprint(paths) -> np.ndarray:
    """Decode base64-line archive files and fingerprint every payload."""
    rows = []
    for path in paths:
        with open(path, "rb") as fh:
            for line in fh:
                line = line.rstrip(b"\n")
                if line:
                    rows.append(fingerprint_one(binascii.a2b_base64(line)))
    return canonical(rows)


def archive_files(root: str) -> list[str]:
    """Data files of an archive, skipping the sink's metadata and hidden
    files the same way the archive listing does."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if not f.startswith(("_", "."))
        )
    return sorted(out)


def _payloads(rng: np.random.Generator, lengths: np.ndarray, first_id: int):
    """Random payloads of the given lengths, each prefixed by its id.
    Returns (data buffer, offsets)."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    buf = np.frombuffer(rng.bytes(int(offsets[-1])), dtype=np.uint8).copy()
    ids = np.arange(first_id, first_id + len(lengths), dtype=">u8")
    pos = offsets[:-1, None] + np.arange(8)
    buf[pos] = ids.view(np.uint8).reshape(-1, 8)
    return buf, offsets


def _fingerprints(buf: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Fingerprints of payloads generated with ``first_id=0``."""
    mv = memoryview(buf)
    off = offsets.tolist()
    return canonical(
        [(i, b - a, zlib.crc32(mv[a:b])) for i, (a, b) in enumerate(zip(off[:-1], off[1:]))]
    )


def _seq_strings(ranks: np.ndarray, shard: np.ndarray) -> np.ndarray:
    """Fixed-width decimal sequence numbers, increasing within a shard."""
    return np.char.add("49600", np.char.zfill((ranks * SHARDS + shard).astype("U20"), 20))


@dataclass
class RecordSet:
    """A RECORD_SCHEMA parquet stream source and its expected content."""

    source_dir: str
    n: int
    payload_bytes: int
    archive_bytes: int  # base64 text the archive must hold
    expected: np.ndarray  # canonical fingerprints of every record
    oversize_ids: np.ndarray  # records above the replay batch cap


def make_records(seed: int, out_dir: str, n: int, oversize: int) -> RecordSet:
    """``n`` records with lognormal payload sizes, ``oversize`` of them
    between the 1,000,000 B batch cap and the 1 MiB record cap, across
    8 shards, written as ``FILES`` parquet files in arrival order."""
    rng = np.random.default_rng(seed)
    lengths = np.clip(
        rng.lognormal(np.log(MEDIAN_BYTES), SIGMA, n).astype(np.int64),
        16,
        BATCH_BYTES_CAP,
    )
    big = rng.choice(n, size=oversize, replace=False)
    lengths[big] = rng.integers(BATCH_BYTES_CAP + 1, RECORD_BYTES_MAX + 1, len(big))
    buf, offsets = _payloads(rng, lengths, 0)

    shard = rng.integers(0, SHARDS, n)
    ranks = np.zeros(n, dtype=np.int64)
    for s in range(SHARDS):
        idx = np.flatnonzero(shard == s)
        ranks[idx] = np.arange(len(idx))
    seq = _seq_strings(ranks, shard)
    shard_ids = np.char.add("shardId-0000000000", np.char.zfill(shard.astype("U2"), 2))
    pkeys = np.char.add("pk-", (np.arange(n) % 1009).astype("U4"))
    arrival = np.datetime64("2025-06-01T00:00:00", "us") + np.arange(n).astype("timedelta64[ms]")

    data = pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)]
    )
    table = pa.table(
        {
            "data": data,
            "sequence_number": pa.array(seq),
            "partition_key": pa.array(pkeys),
            "shard_id": pa.array(shard_ids),
            "arrival_ts": pa.array(arrival, pa.timestamp("us")),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, FILES + 1).astype(int)
    for i in range(FILES):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out_dir, f"part-{i:03d}.parquet"),
        )
    return RecordSet(
        source_dir=out_dir,
        n=n,
        payload_bytes=int(lengths.sum()),
        archive_bytes=base64_line_bytes(lengths),
        expected=_fingerprints(buf, offsets),
        oversize_ids=np.sort(big).astype(np.uint64),
    )


def make_corpus(seed: int, out_dir: str, sf: float) -> str:
    """The ten-table synthetic schema from ``tools/gen_testdata.py``;
    the corpus workload reads its ``documents`` table."""
    import contextlib
    import io

    from tools.gen_testdata import gen

    with contextlib.redirect_stdout(io.StringIO()):
        gen(sf, out_dir, seed=seed)
    return out_dir
