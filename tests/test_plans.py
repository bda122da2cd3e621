"""Plan-shape assertions — the 100 TB posture checks, pinned via explain.

These guard the properties the queries' docstrings promise: filters
reach the parquet scan, aggregations are partial (map-side combine),
fact-scale tables are never hint-broadcast, the archive scan prunes
partitions.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from kinesis_vcr_spark.queries.relational import (
    q1_pricing_summary,
    q5_local_supplier_volume,
)


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _analyzed_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_q1_pushdown_and_partial_agg(spark, sf_dir):
    plan = _formatted_plan(q1_pricing_summary(spark, sf_dir))
    # the shipdate filter must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]
    # two HashAggregate nodes = partial + final (map-side combine)
    assert plan.count("HashAggregate") >= 2
    # no Python in the hot path (decimal math is JVM-side)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q1_column_pruning(spark, sf_dir):
    plan = _formatted_plan(q1_pricing_summary(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 7 needed columns are read, not the full 16-col lineitem
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_no_fact_broadcast_hint(spark, sf_dir):
    """Customer/supplier scale with SF — they must not carry an explicit
    broadcast hint (VERDICT r1 'what's wrong' #3). Only the O(1)-size
    region→nation chain is hinted."""
    analyzed = _analyzed_plan(q5_local_supplier_volume(spark, sf_dir))
    # exactly two hint subtrees: broadcast(region) inside the dimension
    # chain and broadcast(nations) at the main join — nothing fact-scale
    assert analyzed.count("ResolvedHint") == 2
    for section in analyzed.split("ResolvedHint")[1:]:
        subtree_head = section[:400]
        assert "c_custkey" not in subtree_head
        assert "s_suppkey" not in subtree_head


def test_archive_scan_prunes_partitions(spark, tmp_path):
    from datetime import datetime

    from kinesis_vcr_spark.sources.archive import read_archive_lines, write_archive
    from tests.test_archive import make_records

    path = str(tmp_path / "arch")
    for day in ("2024-03-01", "2024-03-02", "2024-03-05"):
        write_archive(make_records(spark, n=5, day=day), path)
    df = read_archive_lines(
        spark, path, datetime(2024, 3, 1), datetime(2024, 3, 3),
        mtime_filter=False,
    )
    plan = _formatted_plan(df)
    # Catalyst prunes the dt partitions at the file index
    assert "PartitionFilters" in plan
    assert df.count() == 10  # 2024-03-05 never read


def test_relational3_no_python_no_cartesian(spark, sf_dir):
    """None of the TPC-H-shaped batch-3 queries may plan Python
    evaluation or a cartesian/BNL product (plan-only, no execution)."""
    from kinesis_vcr_spark.queries import all_queries

    for name, spec in all_queries().items():
        if not name.startswith(("q7_", "q8_", "q9_", "q10_", "q12_", "q13_",
                                "q15_", "q16_", "q17_", "q19_", "q20_",
                                "q21_", "q22_")):
            continue
        plan = _formatted_plan(spec.spark_fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        # q22's scalar-average cross join is a 1-row broadcast: fine
        if name != "q22_dormant_rich":
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_part_broadcast_hint(spark, sf_dir):
    """`part` scales with SF (like customer in VERDICT r1 #3): no query
    may carry an explicit broadcast hint on it. Only O(1) dims
    (region/nation chains) are hinted."""
    from kinesis_vcr_spark.queries import all_queries

    for name in ("q8_market_share", "q9_product_profit", "q14_promo_revenue",
                 "q16_supplier_breadth", "q17_small_quantity",
                 "q19_discounted_revenue"):
        analyzed = _analyzed_plan(
            all_queries()[name].spark_fn(spark, sf_dir)
        )
        for section in analyzed.split("ResolvedHint")[1:]:
            assert "p_partkey" not in section[:400], name


def test_q17_filter_reaches_part_scan(spark, sf_dir):
    from kinesis_vcr_spark.queries.relational3 import q17_small_quantity

    plan = _formatted_plan(q17_small_quantity(spark, sf_dir))
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("p_brand" in seg for seg in pushed)


def test_q21_single_shuffle_then_window(spark, sf_dir):
    """q21 is two keyed aggregations over the same l_orderkey
    partitioning — the window must reuse the groupBy's exchange, not
    add a second shuffle on the same key."""
    from kinesis_vcr_spark.queries.relational3 import q21_sole_late_supplier

    buf = io.StringIO()
    with redirect_stdout(buf):
        q21_sole_late_supplier(spark, sf_dir).explain()
    plan = buf.getvalue()
    # 3 shuffles: (orderkey,suppkey) pair agg, orderkey window, suppkey
    # agg. The fact join and supplier lookup broadcast at this SF; at
    # scale they'd add their own keyed exchanges but never a cartesian.
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_dedup_pair_join_is_equi_join(spark, sf_dir):
    """LSH candidate generation must plan as a hash-partitioned
    equi-join on the band key — never a cartesian/BNL product."""
    from kinesis_vcr_spark.tables import load_table
    from kinesis_vcr_spark.operators.dedup import near_dup_pairs_minhash

    docs = load_table(spark, sf_dir, "documents")
    plan = _formatted_plan(
        near_dup_pairs_minhash(docs, "doc_id", "text")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_windowed_batch_plan_shapes(spark, sf_dir):
    """The windowed/sequence batch: no Python eval anywhere, and the
    views-before-purchase self-join must be an equi-join on user_id
    (range residual as join filter), never a cartesian/BNL product."""
    from kinesis_vcr_spark.queries import all_queries

    qs = all_queries()
    for name in ("user_event_gaps", "views_before_purchase",
                 "user_event_paths", "distinct_users_daily",
                 "conversion_funnel", "events_rolling_7d"):
        plan = _formatted_plan(qs[name].spark_fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_distinct_users_daily_partial_agg(spark, sf_dir):
    """Exact distinct expands to the two-phase plan: partial dedup
    before the exchange (4 HashAggregates for distinct rewrite)."""
    from kinesis_vcr_spark.queries import all_queries

    plan = _formatted_plan(
        all_queries()["distinct_users_daily"].spark_fn(spark, sf_dir)
    )
    assert plan.count("HashAggregate") >= 3


def test_tfidf_batch_plan_shapes(spark, sf_dir):
    """TF-IDF/BM25/vocab: no Python eval, no cartesian product. The
    1-row corpus-stats cross joins plan as 1-row broadcast BNLs (the
    q22 scalar pattern) — allowed; a row-scaled BNL is not, which is
    what the CartesianProduct assertion guards."""
    from kinesis_vcr_spark.queries import all_queries

    qs = all_queries()
    for name in ("tfidf_top_terms", "bm25_search", "vocab_stats"):
        plan = _formatted_plan(qs[name].spark_fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bm25_is_top_k_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (map-side
    top-k), never a full global Sort of the scored corpus."""
    from kinesis_vcr_spark.queries import all_queries

    plan = _formatted_plan(all_queries()["bm25_search"].spark_fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_corpusprep_plans_stay_jvm_side(spark, sf_dir):
    """Round-4 corpus-prep queries: no Python stages, partial (map-side)
    aggregation, and no single-partition window — the properties their
    docstrings promise for the 100 TB posture."""
    from kinesis_vcr_spark.queries.corpusprep import (
        corpus_line_dedup,
        pack_training_sequences,
        text_repetition_signals,
    )

    for fn in (text_repetition_signals, corpus_line_dedup):
        plan = _formatted_plan(fn(spark, sf_dir))
        assert "EvalPython" not in plan, fn.__name__
        assert plan.count("HashAggregate") >= 2, fn.__name__  # partial+final

    plan = _formatted_plan(pack_training_sequences(spark, sf_dir))
    assert "EvalPython" not in plan
    # the packing cumsum must be a per-stream window, never a global sort
    assert "SinglePartition" not in plan
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_line_dedup_boilerplate_join_is_broadcast(spark, sf_dir):
    """The membership join back (line → is-boilerplate) must broadcast
    the (small) boilerplate set, not shuffle the exploded corpus."""
    from kinesis_vcr_spark.queries.corpusprep import corpus_line_dedup

    plan = _formatted_plan(corpus_line_dedup(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_round5_filter_dedup_plan_shapes(spark, sf_dir):
    """Winnow / blocklist / LM-score plan posture: zero Python stages
    (all three are pure Catalyst), denylist and NLL-table lookups ride
    broadcast joins (the corpus side never shuffles for a lookup), and
    aggregations are partial."""
    from kinesis_vcr_spark.queries.dedup import substr_winnow_pairs
    from kinesis_vcr_spark.queries.filterq import (
        lm_unigram_score,
        text_blocklist_filter,
    )

    plan = _formatted_plan(substr_winnow_pairs(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # fingerprint self-join is an equi-join (SortMerge or Hash)
    assert "Join" in plan

    # single-pass HOF verdict (VERDICT r05 item 2): ONE documents scan,
    # zero joins, zero Python stages — the only exchange is the tiny
    # per-source agg
    plan = _formatted_plan(text_blocklist_filter(spark, sf_dir))
    assert "EvalPython" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final

    plan = _formatted_plan(lm_unigram_score(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # NLL-table lookup
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_semdedup_intra_cluster_join_is_equi(spark, sf_dir):
    """SemDeDup's pairwise stage must join on the cluster id (bucketed),
    never a cartesian product; the only Python stages are the two
    vectorized centroid-assignment UDF passes."""
    from kinesis_vcr_spark.queries.filterq import semantic_dedup_planted

    plan = _formatted_plan(semantic_dedup_planted(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shingle_explode_has_no_duplicated_generator_filter(spark, sf_dir):
    """Guard the InferFiltersFromGenerate exclusion (session.py): the
    rule would duplicate the whole shingle build into a pushed-down
    size(...) > 0 filter with the tokenizer inlined into the HOF lambda
    — the interpreted re-evaluation trap (measured 12x slower explode).
    If this starts failing, the exclusion stopped reaching the session."""
    from kinesis_vcr_spark.operators.dedup import tokens, word_shingles_from_tokens
    from kinesis_vcr_spark.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    with_sh = docs.select(
        F.col("doc_id"), tokens("text").alias("__toks")
    ).select(
        F.col("doc_id"),
        word_shingles_from_tokens(F.col("__toks"), 3).alias("shingles"),
    )
    plan = _formatted_plan(with_sh.select(F.explode("shingles")))
    assert "Filter (size(array_distinct" not in plan
    assert plan.count("array_distinct") == 1, plan


def test_bigram_lm_stays_jvm_side(spark, sf_dir):
    """The bigram pipeline is pure built-ins: no Python eval stages, a
    broadcast lookup join, and partial aggregation on the doc rollup."""
    from kinesis_vcr_spark.queries.filterq import lm_bigram_score

    plan = _formatted_plan(lm_bigram_score(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan      # nll-table lookup
    assert plan.count("HashAggregate") >= 2  # map-side combine


def test_budget_select_single_exchange(spark, sf_dir):
    """One shuffle on the group key feeds both the prefix-sum window
    and the final per-source aggregate — no second data exchange of the
    corpus rows (the agg exchange moves source-count-sized partials)."""
    from kinesis_vcr_spark.queries.quantileq import corpus_budget_select

    plan = _formatted_plan(corpus_budget_select(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "Window" in plan
    # exchanges: one hashpartitioning(source) for the window; the
    # aggregate afterwards reuses that partitioning (partial agg rows
    # at most add a tiny final exchange on the same key)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_weighted_sample_no_python(spark, sf_dir):
    from kinesis_vcr_spark.queries.quantileq import sample_weighted_docs

    plan = _formatted_plan(sample_weighted_docs(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_histogram_two_scans_one_broadcast(spark, sf_dir):
    """Stats pass + binning pass; the 1-row stats side is broadcast and
    the bin aggregate is map-side combined."""
    from kinesis_vcr_spark.queries.quantileq import value_histogram

    plan = _formatted_plan(value_histogram(spark, sf_dir))
    # each physical scan prints twice in formatted mode (tree + detail)
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2


def test_outlier_profile_broadcast_stats(spark, sf_dir):
    """Both stats tables (median, MAD) join back via broadcast — the
    event rows never shuffle for the lookup."""
    from kinesis_vcr_spark.queries.quantileq import value_outlier_profile

    plan = _formatted_plan(value_outlier_profile(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BatchEvalPython" not in plan


def test_cdc_apply_single_key_exchange(spark, sf_dir):
    """The merge is one keyed window: exactly one hashpartitioning
    exchange on doc_id moves data; no Python stages."""
    from kinesis_vcr_spark.queries.quantileq import corpus_cdc_apply

    plan = _formatted_plan(corpus_cdc_apply(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    # formatted mode puts the partitioning in the Arguments line: one
    # doc_id exchange feeds the merge window (the later source-keyed
    # agg/sort exchanges move group-sized partials only)
    assert plan.count("hashpartitioning(doc_id") == 1
    assert "Window" in plan


def test_chi2_no_python_cells_tiny(spark, sf_dir):
    """Chi-square works off the contingency-cell table: corpus scanned
    for counting only, everything downstream is cell-sized; no Python."""
    from kinesis_vcr_spark.queries.quantileq import source_lang_chi2

    plan = _formatted_plan(source_lang_chi2(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_span_dedup_positions_never_shuffled_under_gate(spark):
    """Span-dedup plan pin (r15 one-pass window shape): NO join
    anywhere — the gram explode runs once into a single
    hashpartitioning(gram) exchange, the dup test is a window count on
    top of it, and the only other hash exchange is the per-doc islands
    window. Exactly two hash exchanges, zero Python, zero cached
    relations."""
    from kinesis_vcr_spark.operators.spandedup import duplicated_spans

    docs = spark.createDataFrame(
        [(i, ("shared boilerplate sentence here " * 3) + str(i))
         for i in range(8)],
        "doc_id long, text string",
    )

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    plan = plan_of(duplicated_spans(docs, min_len=20))
    assert "Join" not in plan, plan
    assert "InMemoryRelation" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_probe_stored_side_never_shuffled(spark, tmp_path):
    """The probe's stored-side semi-join must be broadcast (batch side
    day-sized by contract): AQE alone materializes the stored exchange
    before downgrading the join — measured as a ~19 GB index shuffle
    at sf100 (BASELINE round-9 addendum 2)."""
    from kinesis_vcr_spark.operators.spandedup import (
        append_gram_index,
        span_probe_index,
    )

    docs = spark.createDataFrame(
        [(i, ("shared boilerplate sentence here " * 3) + str(i))
         for i in range(8)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "gramidx")
    append_gram_index(docs, idx, min_len=20)
    plan = _formatted_plan(span_probe_index(docs, idx, min_len=20))
    # the stored scan must feed a broadcast semi-join, not an exchange:
    # every hashpartitioning exchange in the plan belongs to the
    # batch-side aggregations/window, never to the index scan
    assert "BroadcastHashJoin" in plan
    scan_sections = plan.split("Scan parquet")
    assert len(scan_sections) >= 2  # batch side is an in-memory relation


def test_span_probe_short_batch_prunes_gb_buckets(spark, tmp_path):
    """The gram index's OPT-IN gb directory layout (r10): a SHORT
    probe (fewer distinct grams than buckets) pushes a PartitionFilter
    on gb, and the pruned probe result is exactly the batch-restricted
    duplicated_spans answer. Day-sized probes cannot prune (every doc
    longer than ~L+n_buckets chars covers all buckets — documented in
    operators/spandedup.py, which is why flat scopes are the default)
    — this pin is the SHORT-probe contract of the opt-in layout."""
    from kinesis_vcr_spark.operators.spandedup import (
        DEFAULT_GRAM_BUCKETS,
        append_gram_index,
        duplicated_spans,
        span_probe_index,
    )

    L = 20
    corpus = spark.createDataFrame(
        [(i, ("shared boilerplate sentence here " * 3) + str(i))
         for i in range(8)],
        "doc_id long, text string",
    )
    # 3 grams only: L+2 chars of the shared boilerplate prefix
    tiny = spark.createDataFrame(
        [(100, "shared boilerplate sen")], "doc_id long, text string"
    )
    idx = str(tmp_path / "gramidx")
    append_gram_index(
        corpus, idx, min_len=L, ingest_label="_base",
        n_buckets=DEFAULT_GRAM_BUCKETS,
    )
    # the second append must follow the STAMPED layout (arg ignored)
    append_gram_index(tiny, idx, min_len=L, ingest_label="tiny")
    probe = span_probe_index(tiny, idx, min_len=L)
    plan = _formatted_plan(probe)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any("gb#" in ln and " IN " in ln for ln in pf_lines), plan
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in probe.collect()}
    expected = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(
            corpus.unionByName(tiny), min_len=L
        ).collect()
        if r["doc_id"] == 100
    }
    assert expected, "fixture degenerated: tiny doc has no dup span"
    assert got == expected


def test_span_probe_conf_robustness(spark, tmp_path):
    """The probe's stored side stays exchange-free and results stay
    identical at shuffle-partition confs far from the writer's (the
    dedup_index bucketed-scan pin style, VERDICT r09 item 1)."""
    from kinesis_vcr_spark.operators.spandedup import (
        append_gram_index,
        span_probe_index,
    )

    L = 20
    docs = spark.createDataFrame(
        [(i, ("shared boilerplate sentence here " * 3) + str(i))
         for i in range(12)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "gramidx")
    append_gram_index(docs, idx, min_len=L)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for conf in ("4", "1024"):
            spark.conf.set("spark.sql.shuffle.partitions", conf)
            probe = span_probe_index(docs, idx, min_len=L)
            plan = _formatted_plan(probe)
            assert "BroadcastHashJoin" in plan
            # no Exchange may sit between the parquet index scan and
            # the semi-join: the scan's subtree in the formatted plan
            # is the section up to the broadcast join node
            results.append(
                {(r["doc_id"], r["span_start"], r["span_end"])
                 for r in probe.collect()}
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert results[0] == results[1]
    assert results[0], "fixture degenerated: no spans"


def test_manifold_plant_is_codegen_and_broadcast(spark, sf_dir):
    """similarity_ivf_manifold's plant (r15 shape): the member
    arithmetic is ONE fused Arrow-batched pandas UDF closing over the
    collected center matrix — no centers join in the plant at all (the
    old HOF chain + 8-row broadcast join measured 0.65 ms/row
    interpreted); the candidate join stays a broadcast, and
    row-at-a-time Python never appears."""
    from kinesis_vcr_spark.queries.similarity import similarity_ivf_manifold

    plan = _formatted_plan(similarity_ivf_manifold(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python: never
    # only Arrow-batched stages (plant/assignment/probe/cosine; the
    # probe frame shares the corpus lineage so nodes appear per branch)
    assert plan.count("ArrowEvalPython") <= 10


def test_clean_ordering_line_dedup_plan(spark, sf_dir):
    """llm_prep_spans_clean's line-dedup stage: the boilerplate set is
    tiny, so its membership join back must be a broadcast under AQE at
    fixture scales (the corpus-sized side never shuffles for it), and
    the line counting is a partial (map-side combinable) aggregate."""
    from pyspark.sql import functions as F

    from kinesis_vcr_spark.functions.html import html_to_text
    from kinesis_vcr_spark.functions.text import canonicalize_text
    from kinesis_vcr_spark.operators.linededup import dedup_lines
    from kinesis_vcr_spark.queries.e2e import (
        E2E_BENCH_MOD,
        E2E_FOOTER,
        E2E_LINE_MIN,
        _injected,
    )
    from kinesis_vcr_spark.tables import load_table

    injected = _injected(load_table(spark, sf_dir, "documents")).withColumn(
        "html",
        F.when(
            F.pmod("doc_id", F.lit(E2E_BENCH_MOD)) == 0, F.col("html")
        ).otherwise(F.concat(F.col("html"), F.lit(E2E_FOOTER))),
    )
    raw = injected.withColumn(
        "__raw", canonicalize_text(html_to_text(F.col("html")))
    )
    clean = dedup_lines(
        raw.select("doc_id", "__raw"), "doc_id",
        F.split(F.col("__raw"), "\n"), min_docs=E2E_LINE_MIN,
    )
    clean.collect()  # AQE finalizes join strategies at execution
    plan = clean._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower()
    assert plan.count("HashAggregate") >= 2  # partial + final counting


# --------------------------- round-12 rows: plan pins


def test_script_profile_is_pure_codegen(spark, sf_dir):
    """text_script_profile must never leave the JVM: range counting is
    regexp_replace arithmetic, dominance is a CASE chain, the aggregate
    is map-side combinable — zero Python stages of any kind."""
    from kinesis_vcr_spark.queries.textstats import text_script_profile

    plan = _formatted_plan(text_script_profile(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    assert "partial_count" in plan or "Partial" in plan


def test_pq_manifold_rerank_no_vector_shuffle(spark, sf_dir):
    """The rerank row's plan: broadcast joins for the query/center
    tables, no BroadcastNestedLoopJoin anywhere (the shortlist is an
    id equi-join, never a cross product), no row-at-a-time Python."""
    from kinesis_vcr_spark.queries.similarity import (
        similarity_pq_manifold_rerank,
    )

    plan = _formatted_plan(similarity_pq_manifold_rerank(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan  # centers + query-side broadcasts


def test_keep_best_uses_two_phase_topk(spark, sf_dir):
    """dedup_keep_best's winner stage must ride the skew-safe two-phase
    top-k (partial per-salt rank before the component exchange), not a
    raw window over components — a boilerplate mega-group would
    hot-spot one task otherwise."""
    from kinesis_vcr_spark.queries.dedup import dedup_keep_best

    plan = _formatted_plan(dedup_keep_best(spark, sf_dir))
    # topk_per_group's salted phase leaves two window stages
    assert plan.count("Window") >= 2
    assert "BatchEvalPython" not in plan


def test_decontam_fuzzy_benchmark_side_is_small(spark, sf_dir):
    """decontam_fuzzy: the per-doc aggregate is map-side combinable
    and nothing row-at-a-time crosses into Python; the corpus-side scan
    count stays bounded (both sides share the documents scan)."""
    from kinesis_vcr_spark.queries.dedup import decontam_fuzzy

    plan = _formatted_plan(decontam_fuzzy(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan


def test_heavy_multi_consumer_queries_cache_shared_lineage(spark, sf_dir):
    """Recompute lint pins (r13, VERDICT r12 item 3): the registry
    rows whose shared projection feeds ≥3 downstream joins/actions
    must carry an InMemoryRelation in the optimized plan — the trap
    measured at 1.75-3× when unpersisted (BASELINE r12 addendum 8,
    r13 re-pins). tools/lint_recompute.py is the generic sweep; these
    pins keep the known-heavy rows from regressing."""
    from kinesis_vcr_spark.queries.dedup import dedup_keep_best
    from kinesis_vcr_spark.queries.similarity import (
        similarity_pq_manifold_rerank,
    )

    for fn in (dedup_keep_best, similarity_pq_manifold_rerank):
        plan = fn(spark, sf_dir)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert "InMemoryRelation" in plan, fn.__name__


def test_covariance_row_constant_size_reduction(spark, sf_dir):
    """embedding_covariance_topk: one Arrow stage emits the integer
    Gram partials; the only wide exchange carries <= d(d+1)/2 keys and
    the d-row sums join by broadcast — the corpus never shuffles."""
    from kinesis_vcr_spark.queries.similarity import embedding_covariance_topk

    plan = _formatted_plan(embedding_covariance_topk(spark, sf_dir))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "BatchEvalPython" not in plan      # no row-at-a-time Python
    assert "BroadcastExchange" in plan        # d-row sums join
    assert "SortMergeJoin" not in plan        # nothing big ever joins


def test_kanon_row_single_reduction_no_join(spark, sf_dir):
    """customer_k_anonymity: QI hash-agg + single-row global agg +
    ladder posexplode — no join, no window, no Python stage."""
    from kinesis_vcr_spark.queries.quantileq import customer_k_anonymity

    plan = _formatted_plan(customer_k_anonymity(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan


def test_novelty_row_persists_single_explode(spark, sf_dir):
    """corpus_novelty_by_source: the shingle explode feeds both the
    first-seen reduce and the join-back — it must be persisted (the
    recompute discipline) and stay pure JVM."""
    from kinesis_vcr_spark.queries.corpusprep import corpus_novelty_by_source

    df = corpus_novelty_by_source(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in opt
    plan = _formatted_plan(df)
    assert "EvalPython" not in plan


def test_seasonal_row_single_data_shuffle(spark, sf_dir):
    """events_seasonal_anomaly: the daily agg is the only data-sized
    exchange; the med/MAD joins ride small aggregated sides, nothing
    crosses into Python."""
    from kinesis_vcr_spark.queries.stats import events_seasonal_anomaly

    plan = _formatted_plan(events_seasonal_anomaly(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "HashAggregate" in plan
