"""Portable Bloom filter: no false negatives, bounded FP rate, merge
associativity, and bit-identical cross-engine construction."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.bloom import (
    HASH_A,
    HASH_B,
    MERSENNE_P,
    bloom_build,
    bloom_probe,
)

M_BITS = 2**10  # deliberately small so false positives are observable
N_HASHES = 4


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


def test_no_false_negatives(spark):
    keys = [f"gram-{i}" for i in range(200)]
    bloom = bloom_build(_keys_df(spark, keys), "k", M_BITS, N_HASHES)
    out = bloom_probe(
        _keys_df(spark, keys), "k", bloom, M_BITS, N_HASHES
    ).collect()
    assert len(out) == 200
    assert all(r.maybe_member for r in out)


def test_false_positive_rate_bounded(spark):
    keys = [f"gram-{i}" for i in range(200)]
    bloom = bloom_build(_keys_df(spark, keys), "k", M_BITS, N_HASHES)
    absent = [f"absent-{i}" for i in range(2000)]
    out = bloom_probe(
        _keys_df(spark, absent), "k", bloom, M_BITS, N_HASHES
    ).collect()
    fp = sum(r.maybe_member for r in out) / len(out)
    # theory at 1024 bits / 200 keys / 4 hashes: ~8-9%
    assert fp < 0.25


def test_bit_identical_to_duckdb(spark):
    """The portability contract: DuckDB rebuilds the exact same sparse
    word table from the same SQL-expressible integer arithmetic."""
    keys = [f"tok-{i}" for i in range(150)]
    got = sorted(
        map(
            tuple,
            bloom_build(_keys_df(spark, keys), "k", M_BITS, N_HASHES).collect(),
        )
    )
    hashes = ", ".join(
        f"((x * {HASH_A[j]} + {HASH_B[j]}) % {MERSENNE_P}) % {M_BITS}"
        for j in range(N_HASHES)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE keys AS SELECT unnest(?) AS k", [keys]
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                f"""
                WITH d AS (
                  SELECT CAST('0x' || substr(md5(k), 1, 7) AS BIGINT) AS x
                  FROM keys
                ), pos AS (
                  SELECT unnest([{hashes}]) AS pos FROM d
                )
                SELECT pos // 32 AS word_idx,
                       bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER))
                         AS word_bits
                FROM pos GROUP BY word_idx
                """
            ).fetchall(),
        )
    )
    assert got == want


def test_duplicate_rows_collapse_correctly(spark):
    keys = ["dup", "dup", "other"]
    bloom = bloom_build(_keys_df(spark, ["dup"]), "k", M_BITS, N_HASHES)
    out = {
        r.k: r.maybe_member
        for r in bloom_probe(
            _keys_df(spark, keys), "k", bloom, M_BITS, N_HASHES
        ).collect()
    }
    assert out["dup"] is True  # duplicates collapse but stay correct


def test_invalid_params_raise(spark):
    df = _keys_df(spark, ["x"])
    with pytest.raises(ValueError, match="power of two"):
        bloom_build(df, "k", 1000, 4)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_build(df, "k", 1024, 99)


def test_streaming_incremental_build(spark, tmp_path):
    """The incremental-ingest pattern: each micro-batch appends its own
    partial filter (map-side bit_or, append-only parquet); reading the
    table back through a re-OR per word yields EXACTLY the filter a
    single batch build over the full corpus produces — bit_or is
    associative/commutative/idempotent, so batch boundaries, replays,
    and arrival order are all invisible."""
    import os

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    filt_dir = str(tmp_path / "filter")
    waves = [
        [f"w{w}-gram-{i}" for i in range(60)] for w in range(3)
    ]

    def write_wave(keys):
        _keys_df(spark, keys).coalesce(1).write.mode("append").parquet(src_dir)

    for w in waves:
        write_wave(w)

    def handle_batch(batch_df, _epoch):
        bloom_build(batch_df, "k", M_BITS, N_HASHES).write.mode(
            "append"
        ).parquet(filt_dir)

    q = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    incremental = (
        spark.read.parquet(filt_dir)
        .groupBy("word_idx")
        .agg(F.bit_or("word_bits").alias("word_bits"))
    )
    direct = bloom_build(
        _keys_df(spark, [k for w in waves for k in w]), "k", M_BITS, N_HASHES
    )
    assert sorted(map(tuple, incremental.collect())) == sorted(
        map(tuple, direct.collect())
    )
