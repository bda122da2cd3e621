"""Tests for repetition signals, cross-doc line dedup, and sequence
packing (operators/repetition.py, linededup.py, packing.py)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.linededup import dedup_lines
from kinesis_vcr_spark.operators.packing import bin_stats, pack_chunk
from kinesis_vcr_spark.operators.repetition import chunk_lines, repetition_signals


# ---------------------------------------------------------------------------
# repetition signals
# ---------------------------------------------------------------------------


def test_repetition_signals_hand_computed(spark):
    # doc 1: "a b a b a b" → lines(w=2) = ["a b","a b","a b"]:
    #   3 occurrences, 1 distinct → dup_line_frac = 2/3; all chars equal
    #   → dup_line_char_frac = 2/3. bigrams: "a b"x3, "b a"x2 → top
    #   "a b" count 3; char frac = 3*3/11.
    # doc 2: all lines/bigrams distinct → dup fracs 0.
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "x y z w")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in repetition_signals(df, line_width=2).collect()
    }
    r1 = rows[1]
    assert r1["n_lines"] == 3
    assert r1["dup_line_frac"] == round(2 / 3, 6)
    assert r1["dup_line_char_frac"] == round(2 / 3, 6)
    assert r1["top_bigram"] == "a b" and r1["top_bigram_count"] == 3
    assert r1["top_bigram_char_frac"] == round(9 / 11, 6)
    r2 = rows[2]
    assert r2["dup_line_frac"] == 0.0
    assert r2["top_bigram_count"] == 1


def test_repetition_tie_breaks_lexicographically_largest(spark):
    # "b c a d b c a d": bigrams "b c"x2, "a d"x2, "c a"x2, "d b"x1 →
    # tie on count 2 → lexicographically largest wins: "c a".
    df = spark.createDataFrame([(1, "b c a d b c a d")], ["doc_id", "text"])
    row = repetition_signals(df).collect()[0]
    assert row["top_bigram"] == "c a" and row["top_bigram_count"] == 2


def test_chunk_lines_tail_kept(spark):
    df = spark.createDataFrame([("a b c d e",)], ["text"])
    out = df.select(
        chunk_lines(F.split("text", " "), 2).alias("ls")
    ).collect()[0]["ls"]
    assert out == ["a b", "c d", "e"]


def test_short_doc_single_token_bigram(spark):
    df = spark.createDataFrame([(1, "solo")], ["doc_id", "text"])
    row = repetition_signals(df).collect()[0]
    assert row["top_bigram"] == "solo" and row["n_lines"] == 1


# ---------------------------------------------------------------------------
# cross-doc line dedup
# ---------------------------------------------------------------------------


def test_dedup_lines_removes_shared_keeps_order(spark):
    # "BOILER" appears in 3 docs → removed; unique lines survive in
    # original positions.
    df = spark.createDataFrame(
        [
            (1, "u1\nBOILER\nu2"),
            (2, "BOILER\nu3"),
            (3, "u4\nBOILER"),
            (4, "u5\nu6"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup_lines(df, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == "u1\nu2"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "u3"
    assert out[4]["n_removed"] == 0 and out[4]["clean_text"] == "u5\nu6"


def test_dedup_lines_all_removed_empty_text(spark):
    df = spark.createDataFrame(
        [(i, "SAME") for i in range(4)], ["doc_id", "text"]
    )
    out = dedup_lines(df, min_docs=3).collect()
    assert all(r["clean_text"] == "" and r["n_removed"] == 1 for r in out)


def test_dedup_lines_below_threshold_untouched(spark):
    df = spark.createDataFrame(
        [(1, "dup\nx"), (2, "dup\ny")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["clean_text"] for r in dedup_lines(df, min_docs=3).collect()}
    assert out == {1: "dup\nx", 2: "dup\ny"}


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def test_pack_chunk_straddles_at_exact_offsets(spark):
    # one stream; sizes 100,100,100 with capacity 256 → starts 0,100,200
    # → bins 0,0,0; fourth doc starts at 300 → bin 1.
    df = spark.createDataFrame(
        [(0, 100), (8, 100), (16, 100), (24, 100)], ["doc_id", "n_tok"]
    )
    packed = pack_chunk(df, "doc_id", "n_tok", 256, num_streams=1)
    got = {r["doc_id"]: (r["start_tok"], r["bin_id"]) for r in packed.collect()}
    assert got == {0: (0, 0), 8: (100, 0), 16: (200, 0), 24: (300, 1)}


def test_bin_stats_totals(spark):
    df = spark.createDataFrame(
        [(0, 100), (8, 100), (16, 100), (24, 100)], ["doc_id", "n_tok"]
    )
    packed = pack_chunk(df, "doc_id", "n_tok", 256, num_streams=1)
    stats = bin_stats(
        packed.select("doc_id", "stream", "bin_id", "n_tok"), "n_tok"
    ).collect()
    by_bin = {r["bin_id"]: r.asDict() for r in stats}
    assert by_bin[0]["n_docs"] == 3 and by_bin[0]["n_tokens"] == 300
    assert by_bin[1]["first_id"] == 24
