"""Dedup operators: deterministic winners, LSH recall on constructed
near-dups, SimHash monotonicity."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup import (
    dedup_exact,
    hamming64,
    near_dup_pairs_embedding,
    near_dup_pairs_minhash,
    near_dup_pairs_simhash,
    simhash64_agg,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


def _docs(spark):
    rows = [
        Row(doc_id=0, text=BASE),
        Row(doc_id=1, text=BASE.replace("garden", "meadow")),  # near-dup of 0
        Row(doc_id=2, text="completely different content about spark "
                           "catalyst optimizer plans and shuffle exchanges "
                           "with partition pruning and codegen stages here"),
        Row(doc_id=3, text=BASE),  # exact dup of 0
    ]
    return spark.createDataFrame(rows)


def test_dedup_exact_keeps_min_tie(spark):
    df = spark.createDataFrame(
        [Row(k="a", i=3), Row(k="a", i=1), Row(k="b", i=2), Row(k="a", i=2)]
    )
    kept = dedup_exact(df, ["k"], "i").collect()
    assert {(r["k"], r["i"]) for r in kept} == {("a", 1), ("b", 2)}


def test_minhash_finds_planted_pairs(spark):
    pairs = near_dup_pairs_minhash(
        _docs(spark), "doc_id", "text", threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got  # exact dup → J = 1.0
    assert (0, 1) in got and (1, 3) in got  # near-dups
    assert not any(2 in p for p in got)  # unrelated doc never pairs
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[(0, 3)] == 1.0
    assert 0.5 <= j[(0, 1)] < 1.0


def test_minhash_char_ngrams(spark):
    pairs = near_dup_pairs_minhash(
        _docs(spark), "doc_id", "text", shingle_size=4,
        threshold=0.5, char_ngrams=True,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got and (0, 1) in got


def test_simhash_identical_distance_zero(spark):
    sims = simhash64_agg(_docs(spark), "doc_id", "text")
    by_id = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert by_id[0] == by_id[3]
    ham = (
        sims.where(F.col("doc_id").isin(0, 1))
        .groupBy()
        .agg(F.min("simhash").alias("a"), F.max("simhash").alias("b"))
        .select(hamming64(F.col("a"), F.col("b")).alias("h"))
        .collect()[0]["h"]
    )
    assert 0 <= ham <= 12  # one-word change flips few bits


def test_simhash_pairs_found(spark):
    pairs = near_dup_pairs_simhash(
        _docs(spark), "doc_id", "text", max_hamming=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(0, 3)] == 0


def test_embedding_near_dup(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0] * 8 + [0.0] * 56),
        Row(vec_id=1, embedding=[1.0] * 8 + [0.01] * 56),  # ~same direction
        Row(vec_id=2, embedding=[0.0] * 56 + [1.0] * 8),  # orthogonal
    ]
    df = spark.createDataFrame(rows)
    pairs = near_dup_pairs_embedding(
        df, "vec_id", "embedding", threshold=0.95
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 1)}


def test_band_member_cap_bounds_mega_band(spark):
    """A planted mega-band (many identical docs) must not go quadratic:
    with the cap below the clique size every band is dropped and no
    candidates survive; uncapped, the same corpus yields all C(n,2)
    pairs. (At 100 TB a boilerplate band with 10^6 members would emit
    5*10^11 candidate pairs from one bucket.)"""
    rows = [Row(doc_id=i, text=BASE) for i in range(20)]
    docs = spark.createDataFrame(rows)
    capped = near_dup_pairs_minhash(
        docs, "doc_id", "text", threshold=0.9, band_member_cap=10
    )
    assert capped.count() == 0
    uncapped = near_dup_pairs_minhash(
        docs, "doc_id", "text", threshold=0.9, band_member_cap=None
    )
    assert uncapped.count() == 20 * 19 // 2


def test_band_member_cap_keeps_small_groups(spark):
    """The cap must not disturb ordinary near-dup groups below it."""
    pairs = near_dup_pairs_minhash(
        _docs(spark), "doc_id", "text", threshold=0.6, band_member_cap=1000
    ).select("id_a", "id_b").collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got  # exact dup
    assert (0, 1) in got  # near dup


# ---------------------------------------------------------------------------
# adaptive band sizing (VERDICT r06 item 1)
# ---------------------------------------------------------------------------


def test_adaptive_bands_reduce_to_fixture_shape():
    """At driver-fixture corpus sizes the adaptive default must equal
    the historical 8 bands x 8 rows = 64 hashes — oracle rows
    unchanged by construction."""
    from kinesis_vcr_spark.operators.dedup import adaptive_minhash_bands

    for n in (100, 500, 5_000):  # sf0.001 / sf0.01 fixtures
        assert adaptive_minhash_bands(n, j_noise=0.45) == (64, 8)


def test_adaptive_bands_grow_log_and_bound_noise():
    """Rows grow ~log n; in the unclamped region J_noise^rows stays at
    or under target_bucket/n (the Θ(n·bands) noise-candidate bound),
    and hash count stays O(log n) — never a quadratic knob."""
    from kinesis_vcr_spark.operators.dedup import adaptive_minhash_bands

    prev_rows = 0
    for n in (5_000, 50_000, 500_000, 5_000_000, 50_000_000):
        num_hashes, bands = adaptive_minhash_bands(n, j_noise=0.45)
        rows = num_hashes // bands
        assert num_hashes % bands == 0
        assert rows >= prev_rows  # monotone in n
        prev_rows = rows
        if rows > 8 and rows < 32:  # unclamped region
            assert 0.45**rows <= 16 / n
    # spot values cited in the operator docstring
    assert adaptive_minhash_bands(50_000, j_noise=0.45) == (132, 12)
    assert adaptive_minhash_bands(5_000_000, j_noise=0.45) == (336, 21)


def test_adaptive_bands_validation():
    from kinesis_vcr_spark.operators.dedup import adaptive_minhash_bands

    with pytest.raises(ValueError, match="j_noise"):
        adaptive_minhash_bands(1000, j_noise=1.0)
    with pytest.raises(ValueError, match="recall_j"):
        adaptive_minhash_bands(1000, j_noise=0.5, recall_j=0.4)
    with pytest.raises(ValueError, match="target_recall"):
        adaptive_minhash_bands(1000, j_noise=0.45, target_recall=1.0)


def test_dedup_exact_null_and_empty_keys_stay_distinct(spark):
    """content_key is null-safe: a NULL key and an empty-string key are
    different groups (concat_ws alone would merge them)."""
    df = spark.createDataFrame(
        [Row(k=None, i=1), Row(k=None, i=2), Row(k="", i=3), Row(k="", i=4)],
        "k string, i bigint",
    )
    kept = dedup_exact(df, ["k"], "i").collect()
    assert {(r["k"], r["i"]) for r in kept} == {(None, 1), ("", 3)}


def test_dedup_exact_collapses_full_row_duplicates(spark):
    """Whole-row duplicates (replayed manifest rows: same key, same
    tie) collapse to a single survivor."""
    df = spark.createDataFrame(
        [Row(k="a", i=1, v="x"), Row(k="a", i=1, v="x"), Row(k="b", i=2, v="y")]
    )
    kept = dedup_exact(df, ["k"], "i").collect()
    assert sorted((r["k"], r["i"], r["v"]) for r in kept) == [
        ("a", 1, "x"), ("b", 2, "y")
    ]


def test_dedup_exact_plan_shuffles_digest_not_payload(spark):
    """The exchange key is the 32-byte content digest, not the raw key
    column — no window over full payloads anywhere in the plan."""
    df = spark.createDataFrame([Row(k="some very long document", i=1)])
    plan = dedup_exact(df, ["k"], "i")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan  # map-side combine


# ---------------------------------------------------------------------------
# candidate-blowup circuit breaker (VERDICT r11 item 2)
# ---------------------------------------------------------------------------


def test_candidate_budget_trips_on_footer_corpus(spark):
    """A boilerplate-saturated corpus (every doc = the same footer +
    one unique word — the sf100 ENOSPC shape) must raise the loud
    CandidateBlowupError with the MEASURED candidate count and the
    clean-ordering remediation, before any pair is materialized."""
    from kinesis_vcr_spark.operators.dedup import CandidateBlowupError

    rows = [Row(doc_id=i, text=f"{BASE} unique{i}") for i in range(40)]
    docs = spark.createDataFrame(rows)
    with pytest.raises(CandidateBlowupError) as ei:
        near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=0.9, candidate_budget=100
        ).count()
    msg = str(ei.value)
    assert "candidate pairs" in msg and "budget 100" in msg
    assert "llm_prep_spans_clean" in msg  # the remediation pointer


def test_candidate_budget_passes_below_threshold(spark):
    """An armed budget above the corpus's candidate count must not
    change results at all (bit-equality with the unarmed call)."""
    armed = near_dup_pairs_minhash(
        _docs(spark), "doc_id", "text", threshold=0.6,
        candidate_budget=1_000_000,
    ).collect()
    plain = near_dup_pairs_minhash(
        _docs(spark), "doc_id", "text", threshold=0.6
    ).collect()
    assert sorted(map(tuple, armed)) == sorted(map(tuple, plain))


def test_candidate_budget_counts_post_cap(spark):
    """The budget counts what the join would actually emit: groups
    dropped by band_member_cap don't count against the budget."""
    rows = [Row(doc_id=i, text=BASE) for i in range(30)]
    docs = spark.createDataFrame(rows)
    # cap kills the 30-member mega-bands entirely -> 0 candidates ->
    # even budget=0 passes (and returns no pairs)
    got = near_dup_pairs_minhash(
        docs, "doc_id", "text", threshold=0.9,
        band_member_cap=10, candidate_budget=0,
    )
    assert got.count() == 0


def test_llm_prep_spans_budget_is_armed(spark):
    """The legacy footer-ordering registry row must run with the
    breaker ARMED (the r11 weak-row graduation): at fixture scale it
    passes far below budget; on a saturated corpus the same code path
    raises (previous test). Pin the wiring, not just the operator."""
    import inspect

    from kinesis_vcr_spark.queries.e2e import llm_prep_spans

    src = inspect.getsource(llm_prep_spans)
    assert "near_dup_candidate_budget" in src


# ---------------------------------------------------------------------------
# quality-weighted dedup winner (E104, r12)
# ---------------------------------------------------------------------------


def test_keep_best_per_component(spark):
    """Highest score wins its component; score ties break to the
    smallest id; docs in no component pass through as their own
    winner."""
    from kinesis_vcr_spark.operators.dedup import keep_best_per_component

    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.2), (5, 0.7)],
        "doc_id long, q double",
    )
    comp = spark.createDataFrame(
        # group A = {1,2,3} (2 and 3 tie at 0.9 -> 2 wins),
        # group B = {4}; 5 is in no component (pass-through)
        [(1, 1), (2, 1), (3, 1), (4, 4)],
        "node long, component long",
    )
    got = {
        (r["component"], r["doc_id"], r["q"])
        for r in keep_best_per_component(
            docs, comp, "doc_id", "q"
        ).collect()
    }
    assert got == {(1, 2, 0.9), (4, 4, 0.2), (5, 5, 0.7)}


def test_dedup_keep_best_winner_is_argmax_quality(spark, sf_dir):
    """Driver-row semantics: every winner has the max quality in its
    group (cross-checked against the component labeling + per-doc
    quality computed independently)."""
    from kinesis_vcr_spark.functions.text import quality_score
    from kinesis_vcr_spark.operators.components import connected_components
    from kinesis_vcr_spark.queries.dedup import J_THRESHOLD, dedup_keep_best
    from kinesis_vcr_spark.tables import load_table

    res = {r["component"]: r for r in dedup_keep_best(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", quality_score(F.col("text")).alias("q")
    )
    pairs = near_dup_pairs_minhash(
        docs, "doc_id", "text", shingle_size=3, num_hashes=64, bands=16,
        threshold=J_THRESHOLD,
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert comp, "fixture has near-dup groups"
    qmap = {r["doc_id"]: r["q"] for r in docs.select("doc_id", "q").collect()}
    best: dict = {}
    for node, c in comp.items():
        q = qmap[node]
        if c not in best or (q, -node) > (best[c][1], -best[c][0]):
            best[c] = (node, q)
    assert set(res) == set(best)
    for c, (wid, wq) in best.items():
        assert res[c]["winner_id"] == wid and res[c]["winner_q"] == wq
