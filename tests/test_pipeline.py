"""End-to-end corpus-cleaning pipeline: stage precedence, determinism,
and kept-corpus properties."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.pipeline import (
    STATUS_EXACT,
    STATUS_KEPT,
    STATUS_NEAR,
    STATUS_QUALITY,
    clean_corpus,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "as the sun rises slowly over the quiet town and people start their "
    "day with fresh coffee and warm bread from the local bakery nearby"
)


def _corpus(spark):
    rows = [
        Row(doc_id=0, text=GOOD),
        Row(doc_id=1, text=GOOD),                                # exact dup of 0
        Row(doc_id=2, text=GOOD.replace("garden", "meadow")),    # near dup of 0
        Row(doc_id=3, text="zzz 123 !!! ### $$$ %%% ^^^ &&&"),   # low quality
        Row(doc_id=4, text="a completely different well formed document "
                           "about spark catalyst optimizer plans and the "
                           "shuffle exchanges with partition pruning and "
                           "whole stage codegen in the physical planner "
                           "that keeps every stage of the query pipeline "
                           "running fast with vectorized readers and "
                           "adaptive execution for the modern data stack"),
    ]
    return spark.createDataFrame(rows)


def test_statuses_and_stage_precedence(spark):
    got = {
        r["doc_id"]: r["status"]
        for r in clean_corpus(_corpus(spark), quality_threshold=0.6).collect()
    }
    assert got[0] == STATUS_KEPT          # min-id winner everywhere
    assert got[1] == STATUS_EXACT         # identical text, higher id
    assert got[2] == STATUS_NEAR          # survives exact, loses near-dup
    assert got[3] == STATUS_QUALITY
    assert got[4] == STATUS_KEPT


def test_exact_dup_never_reaches_near_stage(spark):
    """An exact duplicate must report dropped_exact even though it is
    trivially also a near-dup of its twin (stage precedence)."""
    out = clean_corpus(_corpus(spark))
    assert out.where(
        (F.col("doc_id") == 1) & (F.col("status") != STATUS_EXACT)
    ).count() == 0


def test_every_doc_gets_exactly_one_status(spark):
    out = clean_corpus(_corpus(spark))
    assert out.count() == 5
    assert out.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0


def test_llm_prep_invalid_rows_labeled_and_quarantined(spark):
    """NULL html/url rows get the leading dropped_invalid status (not a
    NULL-propagated 'kept', r08 ADVICE), take no split ticket, and
    never win a URL group — the group's valid duplicate survives."""
    from kinesis_vcr_spark.operators.pipeline import (
        STATUS_INVALID,
        llm_prep_corpus,
    )

    wrap = "<p>" + GOOD + "</p>"
    docs = spark.createDataFrame(
        [
            # invalid row is the MIN id of its URL group: it must not
            # swallow the group (doc 1 is the valid copy and must win)
            Row(doc_id=0, url="https://a.com/x", html=None),
            Row(doc_id=1, url="https://a.com/x", html=wrap),
            Row(doc_id=2, url=None, html=wrap),
            Row(doc_id=3, url="https://b.com/y",
                html="<p>" + GOOD.replace("fox", "wolf") + " entirely "
                     "different closing words for this page</p>"),
        ],
        "doc_id bigint, url string, html string",
    )
    bench = spark.createDataFrame(
        [Row(doc_id=99, html="<p>benchmark page about nothing shared</p>")],
        "doc_id bigint, html string",
    )
    out = llm_prep_corpus(docs, bench, jaccard_threshold=0.9)
    got = {r["doc_id"]: (r["status"], r["split"]) for r in out.collect()}
    assert got[0][0] == STATUS_INVALID and got[0][1] == "-"
    assert got[2][0] == STATUS_INVALID and got[2][1] == "-"
    assert got[1][0] == STATUS_KEPT and got[1][1] in ("train", "val", "test")
    assert got[3][0] == STATUS_KEPT


def test_llm_prep_survivors_held_until_next_call(spark):
    """The exact-dedup survivor set is materialized unconditionally in
    the verified mode (persist measured 2.06x at sf1 — BASELINE r13
    addendum 2; r14 switched it to a lazy ``localCheckpoint`` to also
    truncate the analyzed plan under every downstream consumer,
    measured 15.6→12.9 s on llm_prep_spans). It is held under the
    ``llm_survivors`` scope: its lineage must be TRUNCATED (an RDD
    scan, not the extract/URL-window tree), ``unpersist()`` stays a
    harmless no-op on the checkpoint, its blocks stay held after the
    returned plan is collected, and the next call frees them."""
    from kinesis_vcr_spark import cacheutil
    from kinesis_vcr_spark.operators.pipeline import llm_prep_corpus

    jsc = spark.sparkContext._jsc.sc()

    def held():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    wrap = "<p>" + GOOD + "</p>"
    docs = spark.createDataFrame(
        [Row(doc_id=i, url=f"https://a.com/{i}", html=wrap)
         for i in range(4)],
        "doc_id bigint, url string, html string",
    )
    bench = spark.createDataFrame(
        [Row(doc_id=99, html="<p>benchmark page about nothing shared</p>")],
        "doc_id bigint, html string",
    )
    prev = None
    for budget in (1_000_000, None):  # armed and unarmed both materialize
        first = jsc.newRddId()
        out = llm_prep_corpus(docs, bench, near_dup_candidate_budget=budget)
        if prev is not None:
            assert prev not in held()  # this call freed the last one's
        survivors = cacheutil._HELD["llm_survivors"]
        # plan truncated: the held frame scans the checkpointed RDD; the
        # big upstream tree is gone from its lineage
        plan = survivors._jdf.queryExecution().optimizedPlan().toString()
        assert "ExistingRDD" in plan or "LogicalRDD" in plan
        assert "RegExpReplace" not in plan  # no extract tree below it
        out.collect()
        survivors.unpersist()  # a no-op on the checkpoint, must not raise
        entry = survivors._jdf.queryExecution().analyzed().rdd().id()
        assert entry > first
        assert entry in held()
        prev = entry
    cacheutil.release(cacheutil._HELD["llm_survivors"])
    assert prev not in held()
