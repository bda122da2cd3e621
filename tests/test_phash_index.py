"""Persisted perceptual-hash index (operators/phash.py index half):
probe == batch operator restricted to the batch, layout guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup import near_dup_pairs_hash64
from kinesis_vcr_spark.operators.phash import (
    append_phash_index,
    fake_pixels,
    perceptual_hashes,
    phash_probe_index,
)
from kinesis_vcr_spark.tables import load_table


def _media(docs):
    from kinesis_vcr_spark.operators.multimodal import documents_as_media

    return documents_as_media(docs)


def _pairs(df):
    return {(r["id_a"], r["id_b"], r["hamming"]) for r in df.collect()}


def _expected_touching(all_media, new_ids, max_hamming=3):
    hashes = perceptual_hashes(all_media, fake_pixels)
    full = near_dup_pairs_hash64(hashes, "media_id", "phash", max_hamming)
    return {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }


def test_probe_equals_batch_operator_restricted(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    old = docs.where(F.col("doc_id") % 3 != 0)
    # the new batch replants some old payloads under fresh ids so
    # new×old pairs actually exist
    new = docs.where(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    idx = str(tmp_path / "index")
    append_phash_index(
        _media(old), idx, pixel_fn=fake_pixels, ingest_label="_base"
    )
    got = _pairs(
        phash_probe_index(_media(new), idx, pixel_fn=fake_pixels)
    )
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = _expected_touching(
        _media(old.unionByName(new)), new_ids
    )
    assert expected, "fixture degenerated: no pairs touch the batch"
    assert got == expected


def test_layout_guard_and_missing_index(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "s", "en", "payload text one")],
        "doc_id long, source string, lang string, text string",
    )
    idx = str(tmp_path / "index")
    with pytest.raises(ValueError, match="no phash index"):
        phash_probe_index(_media(docs), idx, pixel_fn=fake_pixels)
    append_phash_index(_media(docs), idx, pixel_fn=fake_pixels, blocks=4)
    with pytest.raises(ValueError, match="blocks"):
        append_phash_index(
            _media(docs), idx, pixel_fn=fake_pixels, blocks=8,
            ingest_label="b1",
        )
    with pytest.raises(ValueError, match="max_hamming"):
        phash_probe_index(
            _media(docs), idx, pixel_fn=fake_pixels, max_hamming=4
        )
