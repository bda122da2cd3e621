"""FS-agnostic streaming-state plumbing (statefs.py): Hadoop FS API
semantics — explicit-scheme URIs, atomic overwrite, and the loud-error
contract (only a MISSING path reads as "no prior state")."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from kinesis_vcr_spark import statefs


def test_json_roundtrip_over_file_uri(spark, tmp_path):
    """The object-store contract exercised on a non-trivial URI: every
    path carries an explicit ``file:`` scheme and resolves through the
    Hadoop FileSystem API, exactly as ``s3a://``/``hdfs://`` would."""
    path = f"file://{tmp_path}/sub/progress.json"
    default = {"last_batch_id": -1}
    assert statefs.read_json_state(spark, path, default) == default
    for i in range(3):  # repeated overwrite must stay readable (crc
        statefs.write_json_state(spark, path, {"last_batch_id": i})
        got = statefs.read_json_state(spark, path, default)
        assert got == {"last_batch_id": i}
    # the staged .tmp never survives a completed write
    assert not os.path.exists(f"{tmp_path}/sub/progress.json.tmp")


def test_list_ingest_scopes_missing_vs_present(spark, tmp_path):
    root = f"file://{tmp_path}/state"
    assert statefs.list_ingest_scopes(spark, root) is None  # no state yet
    df = spark.createDataFrame([Row(x=1)])
    df.write.parquet(f"{root}/ingest=b0")
    df.write.parquet(f"{root}/ingest=b2")
    df.write.parquet(f"{root}/not_a_scope")
    assert statefs.list_ingest_scopes(spark, root) == [
        "ingest=b0",
        "ingest=b2",
    ]


def test_read_text_missing_returns_none_torn_json_is_default(
    spark, tmp_path
):
    assert statefs.read_text(spark, f"file://{tmp_path}/nope.json") is None
    p = f"file://{tmp_path}/torn.json"
    statefs.write_text_atomic(spark, p, '{"half":')
    assert statefs.read_json_state(spark, p, {"d": 1}) == {"d": 1}


def test_streaming_loop_over_file_uri_state(spark, tmp_path):
    """A full ingest loop (URL dedup) with its state root and verdict
    sink addressed by ``file://`` URIs — scope discovery, probe
    exclusion, and the watermark all through the Hadoop FS layer."""
    from kinesis_vcr_spark.streaming import ingest
    from kinesis_vcr_spark.streaming.urlstream import url_step

    docs = [
        (1, "see http://A.com/x?utm_source=t and http://b.com/y"),
        (2, "dup http://a.com/x"),
        (3, "fresh http://c.com/z"),
    ]
    frame = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs]
    )
    state = f"file://{tmp_path}/state"
    out = f"file://{tmp_path}/verdicts"
    step = url_step(state, out)
    ingest.apply(frame.where("doc_id <= 2"), 0, state, step)
    ingest.apply(frame.where("doc_id = 3"), 1, state, step)
    progress = ingest.read_progress(state)
    assert progress["last_batch_id"] == 1
    rows = {
        (r.doc_id, r.canon_url): (r.keep_doc_id, r.is_dup)
        for r in spark.read.parquet(
            f"{out}/ingest=b0", f"{out}/ingest=b1"
        ).collect()
    }
    # doc 2's URL canonicalizes onto doc 1's (case + utm strip)
    dup_keys = [key for key in rows if key[0] == 2]
    assert dup_keys and all(rows[k] == (1, True) for k in dup_keys)
    # replay batch 1 with the watermark wound back: identical bytes
    statefs.write_json_state(
        spark, f"{state}/progress.json", {**progress, "last_batch_id": 0}
    )
    ingest.apply(frame.where("doc_id = 3"), 1, state, step)
    rows2 = {
        (r.doc_id, r.canon_url): (r.keep_doc_id, r.is_dup)
        for r in spark.read.parquet(
            f"{out}/ingest=b0", f"{out}/ingest=b1"
        ).collect()
    }
    assert rows2 == rows


def test_listing_failure_is_loud_not_empty(spark, tmp_path):
    """A root that exists but cannot be LISTED must raise, never be
    treated as empty state (the r07 ADVICE failure mode: wrong dedup
    verdicts on a transient listing error). A plain FILE at the root
    path stands in for a non-not-found listing condition: listStatus
    on a file returns the file itself, which is not a scope dir — but
    an actually failing call (permissions) must propagate. Simulate
    with a bad scheme, which fails resolution loudly."""
    with pytest.raises(Exception):
        statefs.list_ingest_scopes(
            spark, "nosuchscheme://bucket/state"
        )


def test_watermark_contract_on_second_scheme_viewfs(spark, tmp_path):
    """The whole watermark contract on a SECOND Hadoop scheme
    (``viewfs://`` with a local mount), not just ``file://`` (r08
    verdict item 7): FileContext resolution, atomic overwrite, missing
    → default, torn JSON → default, and scope listing all behave
    identically — pinning that nothing in statefs is LocalFileSystem-
    specific (the ChecksumException trap the module docstring
    describes)."""
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set(
        "fs.viewfs.mounttable.statefstest.link./state",
        f"file://{tmp_path}",
    )
    base = "viewfs://statefstest/state"
    path = f"{base}/progress.json"
    default = {"last_batch_id": -1, "n": 0}
    # missing → default
    assert statefs.read_json_state(spark, path, default) == default
    # repeated atomic overwrite stays readable (rename(OVERWRITE) path)
    for i in range(3):
        statefs.write_json_state(spark, path, {"last_batch_id": i, "n": i})
        assert statefs.read_json_state(spark, path, default) == {
            "last_batch_id": i, "n": i,
        }
    assert not os.path.exists(f"{tmp_path}/progress.json.tmp")
    # torn JSON → default (written THROUGH statefs so the checksum
    # sidecar matches the torn bytes, as a torn object-store PUT would)
    statefs.write_text_atomic(spark, path, '{"last_batch_id": 2, "n"')
    assert statefs.read_json_state(spark, path, default) == default
    # scope listing: missing root is None, present scopes are named
    assert statefs.list_ingest_scopes(spark, f"{base}/seen") is None
    os.makedirs(f"{tmp_path}/seen/ingest=b0")
    os.makedirs(f"{tmp_path}/seen/ingest=b1")
    assert sorted(statefs.list_ingest_scopes(spark, f"{base}/seen")) == [
        "ingest=b0", "ingest=b1",
    ]
