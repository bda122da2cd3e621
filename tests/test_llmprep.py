"""Training-data prep operators: deterministic sampling, splits,
decontamination, PII redaction."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kinesis_vcr_spark.operators.decontam import (
    ngram_contamination,
)
from kinesis_vcr_spark.operators.sampling import (
    hash_bernoulli,
    sample_ticket,
    stratified_topk_by_hash,
    ticket_threshold,
    train_val_test_split,
)


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


def test_ticket_threshold_bounds():
    assert ticket_threshold(0.0) == "00000000"
    assert ticket_threshold(1.0) == "100000000"[:9]  # 16^8 needs 9 digits → every 8-digit ticket < it
    assert ticket_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        ticket_threshold(1.5)


def test_bernoulli_deterministic_and_partition_stable(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    a = {r.k for r in hash_bernoulli(df, ["k"], 0.3, seed="s").collect()}
    b = {
        r.k
        for r in hash_bernoulli(df.repartition(7), ["k"], 0.3, seed="s").collect()
    }
    assert a == b  # membership independent of partitioning
    assert 0.25 < len(a) / 2000 < 0.35  # ~binomial(2000, .3)
    c = {r.k for r in hash_bernoulli(df, ["k"], 0.3, seed="other").collect()}
    assert a != c  # seed changes the sample


def test_split_is_a_partition(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    tagged = train_val_test_split(df, ["k"], seed="sp")
    counts = {r.split: r.n for r in tagged.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 1000  # total partition: every row exactly one split
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # re-derivation is stable
    again = train_val_test_split(df, ["k"], seed="sp")
    assert tagged.exceptAll(again).count() == 0


def test_stratified_two_phase_equals_plain(spark):
    # skewed strata: 'hot' has 900 rows, 'cold' has 7
    rows = [("hot", i) for i in range(900)] + [("cold", i + 1000) for i in range(7)]
    df = spark.createDataFrame(rows, "stratum string, k long")
    plain = stratified_topk_by_hash(df, ["stratum"], 5, ["k"], seed="z")
    salted = stratified_topk_by_hash(df, ["stratum"], 5, ["k"], seed="z", salt_factor=8)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    got = {r.stratum: 0 for r in plain.collect()}
    for r in plain.collect():
        got[r.stratum] += 1
    assert got == {"hot": 5, "cold": 5}  # exact k, fewer only if stratum smaller


def test_stratified_small_stratum_keeps_all(spark):
    df = spark.createDataFrame([("s", 1), ("s", 2)], "stratum string, k long")
    out = stratified_topk_by_hash(df, ["stratum"], 10, ["k"])
    assert out.count() == 2


def test_ticket_matches_duckdb_md5():
    import duckdb

    # the portability contract: same hex ticket both engines
    con = duckdb.connect()
    got = con.sql(
        "SELECT substr(md5(concat_ws(chr(31), 'r3', '42')), 1, 8)"
    ).fetchone()[0]
    assert got == "d667a738"  # pinned; Spark side pinned in test below


def test_spark_ticket_pinned(spark):
    t = spark.range(1).select(
        sample_ticket(F.lit(42), seed="r3").alias("t")
    ).collect()[0].t
    assert t == "d667a738"


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains bench 3-gram
            (2, "completely unrelated words about spark engines"),
            (3, "quick brown fox appears here too yes indeed"),
        ],
        "doc_id long, text string",
    )


@pytest.fixture()
def bench(spark):
    return spark.createDataFrame(
        [(100, "a quick brown fox story")], "doc_id long, text string"
    )


def test_ngram_contamination_flags_overlap(corpus, bench):
    rep = {
        r.doc_id: r
        for r in ngram_contamination(corpus, bench, "doc_id", "text", n=3).collect()
    }
    assert rep[1].n_hits >= 1 and rep[1].contaminated  # shares 'quick brown fox'
    assert rep[3].n_hits >= 1 and rep[3].contaminated
    assert rep[2].n_hits == 0 and not rep[2].contaminated
    assert 0 < rep[1].hit_frac <= 1.0


def test_decontamination_short_doc_whole_text_gram(spark, bench):
    # a 2-token doc yields one whole-text gram; no crash, no false hit
    docs = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    rep = ngram_contamination(docs, bench, "doc_id", "text", n=8).collect()[0]
    assert rep.n_grams == 1 and rep.n_hits == 0


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def test_redact_pii_roundtrip(spark):
    from kinesis_vcr_spark.functions.text import pii_count, redact_pii

    df = spark.createDataFrame(
        [("mail bob.smith+x@corp.example.org call +1-555-867-5309 host 192.168.0.1 done",)],
        "t string",
    )
    out = df.select(
        redact_pii(F.col("t")).alias("clean"),
        pii_count(F.col("t"), "email").alias("e"),
        pii_count(F.col("t"), "phone").alias("p"),
        pii_count(F.col("t"), "ipv4").alias("i"),
    ).collect()[0]
    assert out.e == 1 and out.p == 1 and out.i == 1
    assert out.clean == "mail <EMAIL> call <PHONE> host <IPV4> done"


def test_redact_pii_clean_text_untouched(spark):
    from kinesis_vcr_spark.functions.text import redact_pii

    df = spark.createDataFrame([("no pii here just words",)], "t string")
    assert df.select(redact_pii(F.col("t")).alias("c")).collect()[0].c == (
        "no pii here just words"
    )


def test_select_within_token_budget_semantics(spark):
    """Prefix-inclusive greedy cap: rows selected in priority order
    while the running total stays within budget; the first overshoot
    and everything after it rejected; deterministic under reshuffle."""
    from pyspark.sql import functions as F

    from kinesis_vcr_spark.operators.sampling import (
        select_within_token_budget,
    )

    rows = [
        # group A: tokens 50, 40, 30, 20 -> cum 50, 90, 120, 140
        ("A", 1, 50), ("A", 2, 40), ("A", 3, 30), ("A", 4, 20),
        # group B: one row over budget alone
        ("B", 5, 200),
        # group C: exactly-at-budget boundary is SELECTED (<=)
        ("C", 6, 60), ("C", 7, 40),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = select_within_token_budget(
        df.repartition(5), "source", "n_tokens", 100,
        order_by=[F.col("n_tokens").desc(), F.col("doc_id")],
    )
    got = {r.doc_id: (r.selected, r.cum_tokens) for r in out.collect()}
    # ordering: desc tokens -> A walks 50(cum 50) 40(90) 30(120) 20(140)
    assert got[1] == (True, 50)
    assert got[2] == (True, 90)     # 50+40
    assert got[3] == (False, 120)   # 50+40+30 > 100
    assert got[4] == (False, 140)
    assert got[5] == (False, 200)   # single oversize row rejected
    assert got[6] == (True, 60)
    assert got[7] == (True, 100)    # == budget is selected


def test_weighted_sample_matches_es_formula(spark):
    """The selection equals a numpy recomputation of the A-ES keys from
    the same md5 tickets — formula-level parity, partition-independent."""
    import hashlib
    import math

    from kinesis_vcr_spark.operators.sampling import (
        weighted_sample_k_per_group,
    )

    rows = [(f"g{i % 3}", i, 10 + (i * 37) % 90) for i in range(60)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")

    def es_key(doc_id, w, seed="wsample"):
        h = hashlib.md5(f"{seed}\x1f{doc_id}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 0.5) / 16**8
        return -math.log(u) / w

    want = set()
    for g in ("g0", "g1", "g2"):
        members = [(es_key(i, w), i) for (gg, i, w) in rows if gg == g]
        want |= {i for _, i in sorted(members)[:4]}

    got = {
        r.doc_id
        for r in weighted_sample_k_per_group(
            df.repartition(7), "source", "w", 4
        ).collect()
    }
    assert got == want


def test_weighted_sample_prefers_heavy_rows(spark):
    """Across independent seeds, heavy rows must win proportionally
    more slots (the point of weighting): one row with 50x the weight
    of its 19 peers should be selected in nearly every draw."""
    from kinesis_vcr_spark.operators.sampling import (
        weighted_sample_k_per_group,
    )

    rows = [("g", i, 500 if i == 0 else 10) for i in range(20)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    heavy_wins = light_wins = 0
    for s in range(12):
        picked = {
            r.doc_id
            for r in weighted_sample_k_per_group(
                df, "source", "w", 3, seed=f"s{s}"
            ).collect()
        }
        assert len(picked) == 3
        heavy_wins += 0 in picked
        light_wins += 7 in picked
    assert heavy_wins >= 10      # ~P=0.93+ per draw
    assert light_wins <= heavy_wins


def test_weighted_sample_zero_weight_never_selected(spark):
    from kinesis_vcr_spark.operators.sampling import (
        weighted_sample_k_per_group,
    )

    rows = [("g", 1, 0), ("g", 2, 5), ("g", 3, 5)]
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    picked = {
        r.doc_id
        for r in weighted_sample_k_per_group(df, "source", "w", 2).collect()
    }
    assert picked == {2, 3}
