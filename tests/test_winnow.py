"""Winnowed-fingerprint substring dedup (operators/winnow.py).

Pins the MOSS winnowing guarantee (Schleimer et al. 2003): any
substring shared verbatim by two documents with length ≥ w + k − 1
contributes at least one identical content-defined fingerprint to
both — plus the hot-fingerprint cap and the short-document path.
"""

from __future__ import annotations

import random
import string

from pyspark.sql import Row

from kinesis_vcr_spark.operators.winnow import (
    shared_substring_pairs,
    winnow_fingerprints,
)

K, W = 20, 8
GUARANTEE = K + W - 1  # 27 chars


def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_shared_span_guarantee(spark):
    """Every doc pair sharing a ≥ (w+k−1)-char verbatim span is found,
    wherever the span sits inside otherwise-unrelated texts."""
    rng = random.Random(7)
    span = _rand_text(rng, GUARANTEE)
    rows = [
        (0, _rand_text(rng, 80) + span + _rand_text(rng, 40)),
        (1, span + _rand_text(rng, 100)),          # span at the start
        (2, _rand_text(rng, 120) + span),          # span at the end
        (3, _rand_text(rng, 150)),                 # unrelated
    ]
    pairs = shared_substring_pairs(
        _docs(spark, rows), k=K, w=W
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert {(0, 1), (0, 2), (1, 2)} <= found
    assert not any(3 in p for p in found)
    # the evidence gram really is a common substring of both texts
    texts = dict(rows)
    for r in pairs:
        assert r.sample_gram in texts[r.id_a]
        assert r.sample_gram in texts[r.id_b]


def test_disjoint_alphabet_no_pairs(spark):
    """Texts over disjoint alphabets share no k-gram → no pairs."""
    rows = [(0, "a" * 100), (1, "b" * 100)]
    assert shared_substring_pairs(_docs(spark, rows), k=K, w=W).count() == 0


def test_short_docs_whole_text_fingerprint(spark):
    """Docs shorter than k emit one whole-text fingerprint; identical
    short docs therefore pair up."""
    rows = [(0, "tiny doc"), (1, "tiny doc"), (2, "other doc")]
    fps = winnow_fingerprints(_docs(spark, rows), k=K, w=W)
    assert fps.groupBy("doc_id").count().collect()[0]["count"] == 1
    pairs = shared_substring_pairs(_docs(spark, rows), k=K, w=W).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_fingerprint_density(spark):
    """Winnowing samples ~2/(w+1) of positions — far fewer fingerprints
    than grams, but at least one per document."""
    rng = random.Random(11)
    rows = [(i, _rand_text(rng, 400)) for i in range(10)]
    counts = {
        r.doc_id: r.n
        for r in winnow_fingerprints(_docs(spark, rows), k=K, w=W)
        .groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    n_pos = 400 - K + 1
    for n in counts.values():
        assert 1 <= n < n_pos / 2  # dense texts: ≪ all positions


def test_hot_fingerprint_cap(spark):
    """A span pasted into more docs than the cap is dropped before the
    self-join — boilerplate can't go quadratic."""
    rng = random.Random(3)
    # fully identical boilerplate docs: EVERY fingerprint is shared by
    # all 12 (with distinct flanks, straddling windows can still elect
    # span-interior grams shared by < cap docs — legitimate evidence
    # the cap must NOT suppress)
    viral = _rand_text(rng, 200)
    rows = [(i, viral) for i in range(12)]
    uncapped = shared_substring_pairs(_docs(spark, rows), k=K, w=W)
    assert uncapped.count() == 12 * 11 // 2
    capped = shared_substring_pairs(
        _docs(spark, rows), k=K, w=W, max_docs_per_fp=5
    )
    assert capped.count() == 0


def test_randomized_planted_spans_all_recovered(spark):
    """Randomized sweep of the winnowing guarantee in ONE job: 40 doc
    pairs, each sharing a random-length span (≥ w+k−1) at random
    offsets inside otherwise-independent random texts — every pair
    must surface, and no cross-pair false positives."""
    rng = random.Random(123)
    rows, expected = [], set()
    for p in range(40):
        span = _rand_text(rng, GUARANTEE + rng.randrange(0, 40))
        a, b = 2 * p, 2 * p + 1
        rows.append((a, _rand_text(rng, rng.randrange(0, 150)) + span
                     + _rand_text(rng, rng.randrange(0, 150))))
        rows.append((b, _rand_text(rng, rng.randrange(0, 150)) + span
                     + _rand_text(rng, rng.randrange(0, 150))))
        expected.add((a, b))
    found = {
        (r.id_a, r.id_b)
        for r in shared_substring_pairs(_docs(spark, rows), k=K, w=W).collect()
    }
    assert expected <= found  # guarantee: every planted pair recovered
    # random flank text must not connect unrelated pairs
    extras = found - expected
    assert not extras, extras
