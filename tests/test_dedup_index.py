"""Persisted incremental near-dup index (operators/dedup_index.py):
the probe must equal the full-corpus pair pipeline restricted to pairs
touching the new batch, across build → probe → append → probe-again."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup import near_dup_pairs_minhash
from kinesis_vcr_spark.operators.dedup_index import (
    build_near_dup_index,
    load_near_dup_index,
    near_dup_against_index,
)
from kinesis_vcr_spark.tables import load_table

KW = dict(shingle_size=3, num_hashes=64, bands=16)
THRESHOLD = 0.6


@pytest.fixture(scope="module")
def idx_dir():
    d = tempfile.mkdtemp(prefix="ndidx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _expected_pairs(spark, corpus, new_ids):
    """Full-corpus pipeline restricted to pairs touching the batch."""
    full = near_dup_pairs_minhash(
        corpus, "doc_id", "text", threshold=THRESHOLD, **KW
    )
    return {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in full.collect()
        if r.id_a in new_ids or r.id_b in new_ids
    }


def _probed(new_docs, idx):
    return {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in near_dup_against_index(
            new_docs, idx, "doc_id", "text", threshold=THRESHOLD
        ).collect()
    }


def test_index_probe_matches_full_corpus(spark, sf_dir, idx_dir):
    """build(old) → probe(new) == full(old ∪ new) restricted to
    new×old ∪ new×new — the module's parity contract, on the real
    documents fixture (planted near-dups fall on both sides of the
    doc_id % 4 split, so both pair classes are non-vacuously hit)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}

    build_near_dup_index(old, idx_dir, "doc_id", "text", **KW)
    idx = load_near_dup_index(spark, idx_dir)
    assert (idx.shingle_size, idx.num_hashes, idx.num_bands) == (3, 64, 16)
    assert not idx.char_ngrams

    got = _probed(new, idx)
    expected = _expected_pairs(spark, docs, new_ids)
    assert got == expected
    assert expected, "vacuous fixture: no pair touches the new batch"
    # both classes present: new×new and new×old
    assert any(a in new_ids and b in new_ids for a, b in expected)
    assert any((a in new_ids) != (b in new_ids) for a, b in expected)
    # probe never returns old×old
    assert all(a in new_ids or b in new_ids for a, b in got)


def test_append_then_probe_matches(spark, sf_dir, idx_dir):
    """Daily-ingest loop: append yesterday's accepted batch, probe
    today's — still exact parity with the full pipeline (depends on
    test_index_probe_matches_full_corpus having built the index)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch1 = docs.where(F.col("doc_id") % 4 == 0)
    # old ∪ batch1 are now indexed; batch2 = a synthetic edit of some
    # indexed docs → guaranteed fresh near-dups against the index
    batch2 = (
        docs.where(F.col("doc_id") % 8 == 1)
        .select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended tail")).alias("text"),
        )
    )
    build_near_dup_index(batch1, idx_dir, "doc_id", "text", append=True, **KW)
    idx = load_near_dup_index(spark, idx_dir)

    corpus = docs.unionByName(batch2)
    new_ids = {r.doc_id for r in batch2.select("doc_id").collect()}
    got = _probed(batch2, idx)
    expected = _expected_pairs(spark, corpus, new_ids)
    assert got == expected
    assert expected, "edited batch produced no near-dups"


def test_append_parameter_mismatch_raises(spark, sf_dir, idx_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with pytest.raises(ValueError, match="append requested"):
        build_near_dup_index(
            docs, idx_dir, "doc_id", "text",
            shingle_size=4, num_hashes=64, bands=16, append=True,
        )


def test_build_rejects_indivisible_bands(spark, sf_dir, idx_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with pytest.raises(ValueError, match="divisible"):
        build_near_dup_index(
            docs, f"{idx_dir}_bad", num_hashes=64, bands=7,
        )


# ---------------------------------------------------------------------------
# bucketed metastore variant (VERDICT r06 item 7)
# ---------------------------------------------------------------------------


def test_bucketed_probe_matches_parquet_path(spark, sf_dir):
    """build_near_dup_index_bucketed → probe == the parquet-index probe
    == the full-corpus pipeline restricted to batch-touching pairs,
    including the key-level hot-band cap equivalence."""
    from kinesis_vcr_spark.operators.dedup_index import (
        build_near_dup_index_bucketed,
        near_dup_against_bucketed_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}

    prefix = "ndidx_bucketed_test"
    build_near_dup_index_bucketed(
        old, prefix, "doc_id", "text", n_buckets=8, **KW
    )
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in near_dup_against_bucketed_index(
            new, spark, prefix, "doc_id", "text", threshold=THRESHOLD
        ).collect()
    }
    expected = _expected_pairs(spark, docs, new_ids)
    assert expected
    assert got == expected

    # append keeps parity (same discipline as the parquet append test)
    batch2 = docs.where(F.col("doc_id") % 8 == 1).select(
        (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" bucketed tail")).alias("text"),
    )
    build_near_dup_index_bucketed(
        new, prefix, "doc_id", "text", n_buckets=8, append=True, **KW
    )
    corpus = docs.unionByName(batch2)
    b2_ids = {r.doc_id for r in batch2.select("doc_id").collect()}
    got2 = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in near_dup_against_bucketed_index(
            batch2, spark, prefix, "doc_id", "text", threshold=THRESHOLD
        ).collect()
    }
    assert got2 == _expected_pairs(spark, corpus, b2_ids)
    assert got2


def test_bucketed_probe_plan_no_stored_side_exchange(spark, sf_dir):
    """The reason the variant exists: every stored-table scan
    (bands twice — counts + candidates — and shingles twice) must reach
    the join WITHOUT an Exchange above it; only batch-derived frames
    shuffle. Pinned by walking the executed-plan string: no
    Exchange may appear between a bucketed-scan leaf and its join."""
    from kinesis_vcr_spark.operators.dedup_index import (
        near_dup_against_bucketed_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 4 == 0)
    plan = near_dup_against_bucketed_index(
        new, spark, "ndidx_bucketed_test", "doc_id", "text",
        threshold=THRESHOLD,
    )._jdf.queryExecution().executedPlan().toString()
    # every bucketed scan must announce bucket pruning/output
    # partitioning: 'SelectedBucketsCount' appears per bucketed scan
    assert plan.count("SelectedBucketsCount") >= 4, plan
    # the precise property: no Exchange between any stored scan and its
    # join (parent chain prints immediately above at shallower depth)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "FileScan" in line and "ndidx_bucketed_test_" in line:
            # NOTE: "Bucketed: false (disabled by query planner)" is
            # FINE here — under a broadcast join the scan has no
            # distribution requirement, so skipping the bucketed read
            # is the optimal choice; only an Exchange above the scan
            # (stored rows moving) is a regression. The broadcast-
            # disabled SMJ variant below additionally requires the
            # bucketed read itself.
            ctx = "\n".join(lines[max(0, i - 2) : i])
            assert "Exchange hashpartitioning" not in ctx, (
                f"stored scan shuffled:\n{ctx}\n{line}"
            )
    # canary on total shuffle count: batch bands align to the bucket
    # spec (1) + batch agg/shingle shuffles + candidate distinct + the
    # two verify-side re-clusterings; a stored-side shuffle regression
    # would push past this
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 16, f"{n_exchange} exchanges:\n{plan}"


def test_bucketed_append_parameter_mismatch_raises(spark, sf_dir):
    from kinesis_vcr_spark.operators.dedup_index import (
        build_near_dup_index_bucketed,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with pytest.raises(ValueError, match="append requested"):
        build_near_dup_index_bucketed(
            docs, "ndidx_bucketed_test", "doc_id", "text",
            shingle_size=5, num_hashes=64, bands=16, append=True,
        )


def test_bucketed_probe_smj_reads_stored_in_place(spark, sf_dir):
    """The at-scale shape: with broadcast disabled (forcing the
    sort-merge joins a 10^9-doc index would actually run), every
    bucketed stored scan must feed its join WITHOUT an Exchange above
    it — a shuffled stored side would appear as Exchange → (Sort) →
    FileScan over the catalog table. Pinned at shuffle partitions BOTH
    below and far ABOVE the bucket count: a cluster runs with conf in
    the thousands, and EnsureRequirements re-shuffles a stored side
    whose layout is coarser than conf unless the probe explicitly
    aligns the batch side to the bucket spec (the regression this
    pins: conf 33 vs 32 buckets flipped every probe join to
    "Bucketed: false (disabled by query planner)")."""
    from kinesis_vcr_spark.operators.dedup_index import (
        near_dup_against_bucketed_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.where(F.col("doc_id") % 4 == 0)
    parts_before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for parts in ("4", "1024"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            plan = near_dup_against_bucketed_index(
                new, spark, "ndidx_bucketed_test", "doc_id", "text",
                threshold=THRESHOLD,
            )._jdf.queryExecution().executedPlan().toString()
            lines = plan.splitlines()
            stored = [
                i for i, l in enumerate(lines)
                if "FileScan" in l and "ndidx_bucketed_test_" in l
            ]
            # bands ×2 (counts + candidates) + shingles ×2 at least
            assert len(stored) >= 4, plan
            for i in stored:
                assert "disabled by query planner" not in lines[i], (
                    f"parts={parts}: bucketed read disabled:\n{lines[i]}"
                )
                # parent chain prints immediately above at shallower
                # depth; a shuffle would put an Exchange within the two
                # lines over the scan (possibly through a Sort)
                ctx = "\n".join(lines[max(0, i - 2) : i])
                assert "Exchange hashpartitioning" not in ctx, (
                    f"parts={parts}: stored scan shuffled:\n"
                    f"{ctx}\n{lines[i]}"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.shuffle.partitions", parts_before)
