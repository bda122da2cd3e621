"""Tests for archive compaction (operators/compaction.py)."""

from __future__ import annotations

import datetime as dt
import os

from kinesis_vcr_spark.model import RECORD_SCHEMA
from kinesis_vcr_spark.operators.compaction import compact_archive, plan_compaction
from kinesis_vcr_spark.sources.archive import list_archive_files
from kinesis_vcr_spark.streaming.record import write_archive_with_manifest

BASE = dt.datetime(2024, 3, 5, 10, 0, 0)


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------


def _write_small_files(spark, tmp_path, n=20, shards=("s0", "s1")):
    rows = [
        (f"payload-{sh}-{i:04d}".encode(), str(1000 + i), f"pk{i}", sh,
         BASE + dt.timedelta(seconds=i))
        for sh in shards
        for i in range(n)
    ]
    records = spark.createDataFrame(rows, RECORD_SCHEMA)
    archive = str(tmp_path / "archive")
    manifest = str(tmp_path / "manifest")
    # tiny byte bound → one file per record or two
    write_archive_with_manifest(records, archive, manifest, max_file_bytes=40)
    return archive, manifest


def test_plan_compaction_groups_are_contiguous_and_bounded(spark, tmp_path):
    _, manifest = _write_small_files(spark, tmp_path)
    m = spark.read.parquet(manifest)
    plan = plan_compaction(m, target_bytes=200).toPandas()
    for (_, _), grp in plan.groupby(["shard_id", "dt"]):
        grp = grp.sort_values("first_seq", key=lambda s: [(len(x), x) for x in s])
        # group ids are non-decreasing along the sequence order
        assert list(grp["group_id"]) == sorted(grp["group_id"])
        # no group exceeds target + one file's worth (never splits a file)
        per = grp.groupby("group_id")["byte_size"].sum()
        assert (per <= 200 + grp["byte_size"].max()).all()


def test_compact_archive_preserves_bytes_and_reduces_files(spark, tmp_path):
    # "shard:1/a" is not a safe directory name: the recorder writes it
    # as shard=shard-1-a, and compaction must write to the same place
    archive, manifest = _write_small_files(
        spark, tmp_path, shards=("s0", "s1", "shard:1/a")
    )
    m = spark.read.parquet(manifest)
    n_before = m.count()

    new_root = str(tmp_path / "compacted")
    new_manifest = compact_archive(spark, m, new_root, target_bytes=300)
    nm = new_manifest.toPandas()

    assert len(nm) < n_before
    # record counts conserved per shard
    old = m.toPandas().groupby("shard_id")["record_count"].sum().to_dict()
    new = nm.groupby("shard_id")["record_count"].sum().to_dict()
    assert old == new

    # byte-identity: concatenated payload per shard identical
    def shard_bytes(paths):
        out = {}
        for _, r in paths.iterrows():
            out.setdefault(r["shard_id"], []).append(
                (len(r["first_seq"]), r["first_seq"], r["file_path"])
            )
        return {
            sh: b"".join(open(p, "rb").read() for _, _, p in sorted(v))
            for sh, v in out.items()
        }

    assert shard_bytes(m.toPandas()) == shard_bytes(nm)

    # seq-range naming invariant holds on merged files
    merged = nm[nm["file_path"].str.startswith(new_root)]
    assert len(merged) > 0
    for _, r in merged.iterrows():
        assert r["file_path"].endswith(f"{r['first_seq']}-{r['last_seq']}")

    # merged files sit in the recorder's shard directory, which the
    # archive listing walks
    assert {os.path.basename(os.path.dirname(p)) for p in merged["file_path"]} == {
        "shard=s0", "shard=s1", "shard=shard-1-a"
    }
    now = dt.datetime.utcnow()
    listed = list_archive_files(
        spark, new_root, now - dt.timedelta(days=1), now + dt.timedelta(days=1),
        mtime_filter=False,
    )
    assert sorted(p.removeprefix("file:") for _, p, _, _ in listed) == sorted(
        merged["file_path"]
    )


def test_compact_archive_noop_when_already_big(spark, tmp_path):
    archive, manifest = _write_small_files(spark, tmp_path, n=4)
    m = spark.read.parquet(manifest)
    # target smaller than any file → every group has one file → no-op
    out = compact_archive(spark, m, str(tmp_path / "c2"), target_bytes=1)
    assert sorted(r["file_path"] for r in out.select("file_path").collect()) == \
        sorted(r["file_path"] for r in m.select("file_path").collect())
