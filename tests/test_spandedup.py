"""Exact duplicate-span detection/removal (operators/spandedup.py) vs
a brute-force reference: every duplicated L-gram enumerated in Python,
extents merged per doc — the definitional computation the operator
must reproduce, including within-doc repeats, adjacent-extent merging,
whole-doc duplication, and sub-L documents."""

from __future__ import annotations

import random
from collections import Counter

from kinesis_vcr_spark.operators.spandedup import (
    duplicated_spans,
    remove_duplicated_spans,
)


def _brute(texts: dict[int, str], L: int):
    c: Counter = Counter()
    for t in texts.values():
        for i in range(len(t) - L + 1):
            c[t[i : i + L]] += 1
    spans: dict[int, list[tuple[int, int]]] = {}
    cleans: dict[int, str] = {}
    for d, t in texts.items():
        out: list[list[int]] = []
        for i in range(len(t) - L + 1):
            if c[t[i : i + L]] >= 2:
                s, e = i + 1, i + L  # 1-based inclusive
                if out and s <= out[-1][1] + 1:
                    out[-1][1] = max(out[-1][1], e)
                else:
                    out.append([s, e])
        if out:
            spans[d] = [tuple(x) for x in out]
        kept, prev = [], 0
        for s, e in out:
            kept.append(t[prev : s - 1])
            prev = e
        kept.append(t[prev:])
        cleans[d] = "".join(kept)
    return spans, cleans


def _run(spark, texts: dict[int, str], L: int):
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got_spans: dict[int, list[tuple[int, int]]] = {}
    for r in duplicated_spans(df, min_len=L).collect():
        got_spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    got_spans = {d: sorted(v) for d, v in got_spans.items()}
    got_clean = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicated_spans(df, min_len=L).collect()
    }
    return got_spans, got_clean


def test_crafted_cases(spark):
    block = "The quick brown fox jumps over the lazy dog again and again!"
    texts = {
        1: "unique preamble one. " + block + " unique tail one.",
        2: "another lead-in text. " + block + " different ending.",
        3: "selfrepeat " + "x" * 45 + " middle " + "x" * 45 + " done",
        4: "short doc",  # under L: never contributes
        5: block,  # entirely duplicated -> clean == ""
        6: "no duplication here at all, long enough to carry grams.",
    }
    L = 30
    exp_spans, exp_clean = _brute(texts, L)
    got_spans, got_clean = _run(spark, texts, L)
    assert got_spans == exp_spans
    assert got_clean == exp_clean
    assert got_clean[5] == ""  # whole doc removed
    assert 4 not in got_spans and 6 not in got_spans
    assert got_clean[4] == texts[4] and got_clean[6] == texts[6]

    # dup-saturated ("viral gram") corpus: every doc shares one long
    # paragraph, so each of its grams lands in a single window group
    # holding one position per doc — the skew case
    viral = (
        "This paragraph was syndicated to every page of the crawl, "
        "word for word, and carries no information of its own. "
    ) * 3
    texts = {d: f"doc {d} lead. " + viral + f"tail of doc {d}." for d in range(24)}
    exp_spans, exp_clean = _brute(texts, L)
    got_spans, got_clean = _run(spark, texts, L)
    assert got_spans == exp_spans
    assert got_clean == exp_clean
    assert all(len(v) == 1 for v in got_spans.values())


def test_random_small_alphabet(spark):
    """Tiny alphabet forces chance gram repeats, overlapping extents,
    and islands in every shape — the merge logic's stress case."""
    rng = random.Random(117)
    L = 6
    texts = {
        d: "".join(rng.choice("abc") for _ in range(rng.randint(3, 120)))
        for d in range(40)
    }
    exp_spans, exp_clean = _brute(texts, L)
    got_spans, got_clean = _run(spark, texts, L)
    assert got_spans == exp_spans
    assert got_clean == exp_clean
    assert exp_spans, "fixture degenerated: no duplicated spans"
