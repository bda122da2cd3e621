"""Blocklist hygiene (operators/blockfilter.py) + unigram-LM scoring
(operators/lmscore.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from kinesis_vcr_spark.operators.blockfilter import flag_blocked
from kinesis_vcr_spark.operators.lmscore import (
    MICRO,
    score_documents_lm,
    unigram_nll_table,
)


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


# ---------------------------------------------------------------------------
# blocklist
# ---------------------------------------------------------------------------


def test_whole_token_term_matching(spark):
    df = _docs(spark, [
        (0, "clean text here"),
        (1, "contains spamword today"),
        (2, "spamwordish is not a hit"),   # substring must NOT match
        (3, "spamword spamword twice"),
    ])
    v = {r.doc_id: r for r in flag_blocked(
        df, spark, bad_terms=["spamword"]).collect()}
    assert not v[0].blocked and v[0].term_hits == 0
    assert v[1].blocked and v[1].term_hits == 1
    assert not v[2].blocked
    assert v[3].term_hits == 2


def test_domain_matching_case_insensitive(spark):
    df = _docs(spark, [
        (0, "go to https://Bad.Example.COM/x now"),
        (1, "go to https://good.example.com/x now"),
        (2, "http://bad.example.com also flagged"),
        (3, "bad.example.com bare mention is not a URL"),
    ])
    v = {r.doc_id: r for r in flag_blocked(
        df, spark, bad_domains=["BAD.example.com"]).collect()}
    assert v[0].blocked and v[0].domain_hits == 1
    assert not v[1].blocked
    assert v[2].blocked
    assert not v[3].blocked


def test_empty_denylists_block_nothing(spark):
    df = _docs(spark, [(0, "anything"), (1, "at all")])
    v = flag_blocked(df, spark).collect()
    assert all(not r.blocked for r in v)
    assert len(v) == 2


def test_single_pass_matches_broadcast_variant(spark):
    """flag_blocked_single_pass is the zero-shuffle twin of
    flag_blocked: identical verdicts on every row, carry_cols pass
    through, and empty denylists block nothing."""
    from kinesis_vcr_spark.operators.blockfilter import (
        flag_blocked_single_pass,
    )

    rows = [
        (0, "clean text here"),
        (1, "contains spamword today"),
        (2, "spamwordish is not a hit"),
        (3, "spamword spamword twice"),
        (4, "go to https://Bad.Example.COM/x now"),
        (5, "go to https://good.example.com/x now"),
        (6, "spamword plus http://bad.example.com both"),
        (7, ""),
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t, src=f"s{i % 2}") for i, t in rows]
    )
    kw = dict(bad_terms=["spamword"], bad_domains=["BAD.example.com"])
    ref = {r.doc_id: r for r in flag_blocked(df, spark, **kw).collect()}
    got = {
        r.doc_id: r
        for r in flag_blocked_single_pass(
            df, carry_cols=("src",), **kw
        ).collect()
    }
    assert set(got) == set(ref)
    for i in got:
        assert (got[i].term_hits, got[i].domain_hits, got[i].blocked) == (
            ref[i].term_hits, ref[i].domain_hits, ref[i].blocked
        ), i
        assert got[i].src == f"s{i % 2}"
    # empty denylists
    v = flag_blocked_single_pass(df).collect()
    assert all(not r.blocked for r in v) and len(v) == len(rows)


# ---------------------------------------------------------------------------
# unigram LM
# ---------------------------------------------------------------------------


def test_nll_table_exact_values(spark):
    # corpus: "a a b" -> N=3, V=2; add-1: p(a)=(2+1)/(3+2), p(b)=(1+1)/(3+2)
    df = _docs(spark, [(0, "a a b")])
    nll = {r.token: r.nll_micro for r in unigram_nll_table(df).collect()}
    assert nll["a"] == round(math.log(5 / 3) * MICRO)
    assert nll["b"] == round(math.log(5 / 2) * MICRO)


def test_common_tokens_score_lower(spark):
    rows = [(i, "the the the common words") for i in range(9)]
    rows.append((9, "zxqv unseen rarities only"))
    scored = {r.doc_id: r.avg_nll for r in score_documents_lm(
        _docs(spark, rows)).collect()}
    assert scored[9] > scored[0]  # rare-token doc = higher NLL


def test_external_lm_oov_penalty(spark):
    train = _docs(spark, [(0, "a a b")])
    lm = unigram_nll_table(train)
    test = _docs(spark, [(1, "a zzz")])
    oov = round(math.log(5 / 1) * MICRO)  # ln((N + aV)/a)
    r = score_documents_lm(test, lm=lm, oov_nll_micro=oov).collect()[0]
    assert r.n_tokens == 2
    assert r.nll_micro_total == round(math.log(5 / 3) * MICRO) + oov


def test_external_lm_requires_oov(spark):
    train = _docs(spark, [(0, "a a b")])
    lm = unigram_nll_table(train)
    with pytest.raises(ValueError, match="oov"):
        score_documents_lm(_docs(spark, [(1, "a")]), lm=lm)


# ---------------------------------------------------------------------------
# Unicode canonicalization
# ---------------------------------------------------------------------------


def test_nfc_composes_and_strips_controls(spark):
    from pyspark.sql import functions as F

    from kinesis_vcr_spark.functions.text import canonicalize_text

    rows = [
        (0, "cafe\u0301"),              # decomposed -> composed (5 -> 4 cps)
        (1, "caf\u00e9"),               # already composed (unchanged)
        (2, "ab\u0007\u200b"),         # BEL stripped, ZWSP kept (not a control)
        (3, "tab\tand\nnewline"),      # \t \n survive
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", canonicalize_text(F.col("text")).alias("c")
        ).collect()
    }
    assert got[0] == got[1] == "caf\u00e9"   # dedup-equal after NFC
    assert got[2] == "ab\u200b"
    assert got[3] == "tab\tand\nnewline"


def test_bigram_pairs_shape(spark):
    from kinesis_vcr_spark.operators.lmscore import BOS, bigram_pairs

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b  b"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.prev, r.token) for r in bigram_pairs(df).collect()
    )
    # doc 2's double space yields no empty token (filtered BEFORE
    # adjacency, so 'b b' stays adjacent); empty/whitespace docs vanish
    assert got == [
        (1, BOS, "a"), (1, "a", "b"), (1, "b", "a"),
        (2, BOS, "b"), (2, "b", "b"),
    ]


def test_bigram_nll_hand_computed(spark):
    """Tiny corpus, hand-derived counts: the table must equal the
    closed-form -ln(λ·c_pw/c_p + (1-λ)·(c_w+1)/(N+V)) in micro-nats,
    with (1-λ) the exact Python double 1.0-0.7 (not nearest-0.3)."""
    import math

    from kinesis_vcr_spark.operators.lmscore import (
        BOS, LAMBDA_BIGRAM, MICRO, bigram_nll_table,
    )

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b b")], "doc_id long, text string"
    )
    # pairs: (BOS,a) (a,b) (b,a) | (BOS,b) (b,b)
    c_pw = {(BOS, "a"): 1, ("a", "b"): 1, ("b", "a"): 1,
            (BOS, "b"): 1, ("b", "b"): 1}
    c_p = {BOS: 2, "a": 1, "b": 2}
    c_w = {"a": 2, "b": 3}
    n_total, v_size = 5, 2
    lam, one_minus = LAMBDA_BIGRAM, 1.0 - LAMBDA_BIGRAM

    def expected(prev, token):
        p = (lam * c_pw[(prev, token)] / c_p[prev]
             + one_minus * (c_w[token] + 1.0)
             / (n_total + 1.0 * v_size))
        return -round(math.log(p) * MICRO)

    got = {
        (r.prev, r.token): r.nll_micro
        for r in bigram_nll_table(df).collect()
    }
    assert set(got) == set(c_pw)
    for key, nll in got.items():
        assert nll == expected(*key), key
        assert nll > 0  # every mixture prob < 1


def test_bigram_score_totals(spark):
    """Self-scoring joins are total: n_tokens equals the token count of
    each doc and totals are the exact sum of table entries."""
    from kinesis_vcr_spark.operators.lmscore import (
        bigram_nll_table, bigram_pairs, score_documents_bigram,
    )

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b b"), (3, "c")], "doc_id long, text string"
    )
    table = {
        (r.prev, r.token): r.nll_micro
        for r in bigram_nll_table(df).collect()
    }
    pairs = [(r.doc_id, r.prev, r.token) for r in bigram_pairs(df).collect()]
    want = {}
    for doc_id, prev, token in pairs:
        n, t = want.get(doc_id, (0, 0))
        want[doc_id] = (n + 1, t + table[(prev, token)])

    got = {
        r.doc_id: (r.n_tokens, r.nll_micro_total)
        for r in score_documents_bigram(df).collect()
    }
    assert got == want
