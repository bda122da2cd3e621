"""End-to-end corpus-cleaning pipeline — the composed form of the
training-data preparation flow this engine exists for: exact dedup →
near-dup clustering → quality filtering, in one call, labeling every
document with its fate.

Stage order matters and mirrors production practice:

1. **exact dedup first** (cheapest: one digest-keyed group-min, with
   map-side combine) — a boilerplate page duplicated 10^6 times must
   die here, BEFORE the LSH stage where it would form a mega-band (see
   the band-member cap in :mod:`kinesis_vcr_spark.operators.dedup`);
2. **near-dup clustering** over the exact survivors only: MinHash-LSH
   candidate pairs → connected components → keep the min-id root of
   each component;
3. **quality filter** over what remains.

Every stage is a DataFrame transformation (window / LSH joins / label
propagation / scalar scoring); nothing collects to the driver, so the
pipeline inherits each operator's 100 TB posture. Statuses are mutually
exclusive and assigned in stage order — a doc that is both a near-dup
and low quality reports ``dropped_near_dup``, matching the stage that
actually removed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold

STATUS_KEPT = "kept"
STATUS_EXACT = "dropped_exact"
STATUS_NEAR = "dropped_near_dup"
STATUS_QUALITY = "dropped_quality"

def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.6,
    quality_threshold: float = 0.6,
    shingle_size: int = 3,
) -> DataFrame:
    """All ``docs`` columns + a ``status`` column:
    kept | dropped_exact | dropped_near_dup | dropped_quality.

    Deterministic: winners are min-id (per identical text, then per
    near-dup component), so any engine computing the same definition
    agrees row-for-row — the driver query's DuckDB oracle recomputes
    the whole pipeline relationally.
    """
    from kinesis_vcr_spark.functions.text import quality_score
    from kinesis_vcr_spark.operators.components import connected_components
    from kinesis_vcr_spark.operators.dedup import (
        dedup_exact,
        near_dup_pairs_minhash,
    )

    # 1 — exact: min id per identical text wins. Digest-keyed group-min
    # over the FULL-ROW struct (dedup_exact, r08 verdict + r09 fix):
    # the shuffle key is the 32-byte digest and the aggregate is
    # map-side combinable — a page duplicated 10^6 times collapses to
    # one surviving row per upstream partition BEFORE the exchange,
    # where a window partitioned by the raw text would ship 10^6 full
    # payloads into one indivisible task. Carrying the winning row in
    # the aggregate (instead of min(id) + a semi-join back) keeps
    # exact_kept a SINGLE lineage branch: the r09 sf0.1 measurement of
    # the semi-join shape re-executed the whole upstream once per join
    # side in every downstream consumer (llm_prep_pipeline 5.2 s →
    # 30 s median from that multiplicative recompute alone).
    # NOT persisted (r13, measured A/B at sf1): here exact_kept sits
    # above only the raw scan + one map-side-combinable group-min —
    # persisting measured 10.7 -> 11.6 s med (the materialization
    # barrier loses). Contrast llm_prep_corpus below, where the same
    # frame sits above HTML extract + the URL window and the persist
    # measured 32.6 -> 15.8 s med (BASELINE r13 addendum 2).
    exact_kept = dedup_exact(docs, [text_col], id_col)
    exact_winners = exact_kept.select(id_col).withColumn(
        "__exact_keep", F.lit(True)
    )

    # 2 — near-dup among exact survivors: pairs -> components -> roots
    pairs = near_dup_pairs_minhash(
        exact_kept,
        id_col,
        text_col,
        shingle_size=shingle_size,
        threshold=jaccard_threshold,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    near_drops = (
        comp.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
        .withColumn("__near_drop", F.lit(True))
    )

    labeled = docs.join(exact_winners, id_col, "left").join(
        near_drops, id_col, "left"
    )
    status = (
        F.when(F.col("__exact_keep").isNull(), F.lit(STATUS_EXACT))
        .when(F.col("__near_drop"), F.lit(STATUS_NEAR))
        .when(
            quality_score(F.col(text_col)) < quality_threshold,
            F.lit(STATUS_QUALITY),
        )
        .otherwise(F.lit(STATUS_KEPT))
    )
    return labeled.select(*docs.columns, status.alias("status"))


# ---------------------------------------------------------------------------
# full LLM-prep pipeline (r08): URL dedup → HTML extract → NFC →
# langid/quality filter → exact+near dedup → decontam → split
# ---------------------------------------------------------------------------

STATUS_INVALID = "dropped_invalid"
STATUS_URL = "dropped_url_dup"
STATUS_LANG = "dropped_lang"
STATUS_CONTAM = "dropped_contaminated"


def llm_prep_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    keep_lang: str = "en",
    quality_threshold: float = 0.6,
    jaccard_threshold: float = 0.6,
    shingle_size: int = 3,
    decontam_n: int = 5,
    min_hits: int = 1,
    split_seed: str = "e2e",
    near_dup: str = "verified",
    text_col: str | None = None,
    near_dup_candidate_budget: int | None = None,
) -> DataFrame:
    """The whole training-data preparation flow in one call — the
    integration the pillar operators exist for (r07 verdict item 5).
    ``docs`` carries raw crawl rows (id, url, html, ...); ``benchmark``
    carries the eval set in the same shape (id, html). Output: all
    ``docs`` columns + ``status`` (the FIRST stage that removed the
    doc, mutually exclusive, in production stage order) + ``split``
    (train/val/test for kept docs, '-' otherwise). The survivor set
    behind the output is held (``cacheutil.hold``, scope
    ``llm_survivors``) until the next call, which frees it: collect
    the output before calling again.

    Stage order and why (each stage sees only prior survivors):

    1. **URL dedup** — one string expression + a window-min per
       canonical key; removes bulk crawl duplication before anything
       touches document CONTENT (RefinedWeb §3.2 runs exact-URL dedup
       first for the same reason).
    2. **HTML→text + NFC** — extraction (pure Catalyst regexp chain)
       and Unicode canonicalization, so every later stage hashes and
       tokenizes identical bytes.
    3. **langid then quality** — cheap per-doc scalar filters ahead of
       any pairwise work.
    4. **exact dedup** (digest-keyed group-min) BEFORE LSH, so a page
       duplicated 10^6 times dies before it can form a mega-band.
    5. **near-dup** — ``near_dup="verified"`` (default): MinHash-LSH
       pairs → exact-Jaccard verification → connected components →
       keep the min-id root (precision 1.0 at ``jaccard_threshold``).
       ``near_dup="lsh_components"``: components DIRECTLY from band
       groups via anchor edges (:func:`~kinesis_vcr_spark.operators.
       dedup.lsh_band_components`) — Θ(n·bands) rows with NO pair
       table, the posture for boilerplate-saturated corpora where the
       verified path's candidate×shingle exchange goes super-linear
       (measured ~300 GB at the sf100 footer corpus, BASELINE r10
       addendum 2; ``jaccard_threshold`` is then unused — the dup
       decision is band co-membership, precision documented on the
       operator).
    6. **decontamination** — word-``decontam_n``-gram overlap against
       the benchmark's EXTRACTED text (the eval set is external data:
       it does not run through the pipeline, it is only normalized the
       same way).
    7. **split** — deterministic hash-ticket 80/10/10 over survivors.

    100 TB shape: one window shuffle (canonical URL — bounded
    duplication per page by crawl construction), a map-side-combinable
    digest group-min for exact dedup (hot 10^6-duplicate pages collapse
    before the exchange; winner membership re-attaches by unique id),
    the LSH band join (member-capped), one broadcast gram join
    (benchmark is eval-set-sized), and id-keyed status joins; every
    filter is a narrow whole-stage-codegen projection. NULL-id/url/html
    rows get a leading ``dropped_invalid`` status and are excluded from
    every stage including URL-group wins. Deterministic end to end
    (min-id winners, md5 tickets) — the driver query's DuckDB oracle
    recomputes every stage relationally.
    """
    if near_dup not in ("verified", "lsh_components"):
        raise ValueError(
            f"near_dup must be 'verified' or 'lsh_components', got "
            f"{near_dup!r}"
        )
    from kinesis_vcr_spark.functions.html import html_to_text
    from kinesis_vcr_spark.functions.text import (
        canonicalize_text,
        predicted_lang,
        quality_score,
    )
    from kinesis_vcr_spark.operators.components import connected_components
    from kinesis_vcr_spark.operators.dedup import (
        dedup_exact,
        near_dup_pairs_minhash,
    )
    from kinesis_vcr_spark.operators.decontam import ngram_contamination
    from kinesis_vcr_spark.operators.sampling import train_val_test_split
    from kinesis_vcr_spark.operators.urldedup import canonicalize_url

    idc = F.col(id_col)
    # NULL id/url/html (hence NULL __text) rows are structurally
    # invalid crawl rows: they must not win a URL group (silently
    # swallowing the group's valid duplicate) or fall through the
    # NULL-propagating status whens to 'kept' (r08 ADVICE) — they get
    # an explicit leading dropped_invalid status and never enter the
    # pipeline, so __url_winner is the min VALID id per canonical URL.
    valid = (
        idc.isNotNull()
        & F.col(url_col).isNotNull()
        & F.col(html_col).isNotNull()
        & F.col("__text").isNotNull()
    )
    # text_col: pre-extracted/pre-cleaned text override (the
    # boilerplate-first ordering, BASELINE r10 addendum 5 path (c):
    # corpus-wide line dedup runs BEFORE the pipeline, so stage 2's
    # extraction is replaced by the caller's column; every later stage
    # — langid, quality, exact, near-dup, decontam, split — then
    # operates on the cleaned text). benchmark text extraction below
    # is unaffected (the eval set is external data).
    text_expr = (
        F.col(text_col) if text_col is not None
        else canonicalize_text(html_to_text(F.col(html_col)))
    )
    base = docs.withColumn(
        "__canon_url", canonicalize_url(F.col(url_col))
    ).withColumn(
        "__text", text_expr
    ).withColumn(
        "__url_winner",
        F.min(F.when(valid, idc)).over(Window.partitionBy("__canon_url")),
    ).withColumn(
        "__pred_lang", predicted_lang(F.col("__text"))
    ).withColumn(
        "__q", quality_score(F.col("__text"))
    )

    scalar_ok = (
        valid
        & (idc == F.col("__url_winner"))
        & (F.col("__pred_lang") == keep_lang)
        & (F.col("__q") >= quality_threshold)
    )
    s1 = base.where(scalar_ok).select(id_col, "__text")
    # Exact dedup: digest-keyed group-min over the full-row struct
    # instead of a window over the full text (r08 verdict) — the
    # shuffle key is the 32-byte digest and the aggregate is map-side
    # combinable, so a page duplicated 10^6 times collapses per
    # upstream partition BEFORE the exchange instead of hot-spotting
    # one indivisible window task with 10^6 full-text rows. The winning
    # row rides IN the aggregate (r09 fix): the earlier min(id) +
    # semi-join-back shape re-executed s1's whole upstream (HTML
    # extract, NFC, URL window) once per join side in every downstream
    # branch — measured 5.2 s → 30 s median at sf0.1 from the
    # multiplicative recompute alone.
    exact_kept = dedup_exact(s1, ["__text"], id_col)
    # Materialize the survivor set for its many lineage consumers.
    # verified: breaker count, band join, verify sides, s2/labeled
    # status joins — measured 2.06× at sf1 (r13, BASELINE addendum
    # 2). lsh_components: the r12/r14 PERSIST A/Bs found no win
    # (fewer consumers), but under the localCheckpoint seam the win
    # is plan TRUNCATION — the band pipeline, singleton join and
    # status joins stop re-analyzing the extract/URL-window tree per
    # action: llm_prep_spans_lsh 14.96–17.3 s lazy vs 11.95–14.25 s
    # materialized (r14, 4/4 adjacent pairs, parity-checked). A lazy
    # localCheckpoint rather than persist (r14, interleaved A/B): the
    # truncation also took llm_prep_spans 15.6→12.9 s med and
    # llm_prep_pipeline 7.2→6.3 s. A lost executor cannot recompute a
    # localCheckpointed partition, so on the durable posture ``hold``
    # persists instead (recomputable, at the plan-analysis cost).
    exact_kept = hold("llm_survivors", exact_kept, checkpoint=True)
    exact_winners = exact_kept.select(id_col).withColumn(
        "__exact_keep", F.lit(True)
    )

    if near_dup == "verified":
        # near_dup_candidate_budget arms the LSH blowup circuit
        # breaker (operators/dedup.py::CandidateBlowupError): on a
        # boilerplate-saturated corpus the verified path fails loudly
        # with the measured candidate count + remediations instead of
        # filling the cluster's disk (the sf100 footer ENOSPC,
        # BASELINE r10 addendum 2). The armed breaker's eager count
        # adds one more consumer of exact_kept's lineage (extraction +
        # URL window + digest group-min), so persist the survivor set
        # while the breaker + band join + verify consumers run —
        # without it the count pass re-executes the whole upstream.
        #
        # The materialized survivor set also feeds the returned plan's
        # LAZY consumers (band join, verify, the s2 status joins), so
        # it stays held until the next call. r13: materialize
        # unconditionally — the survivor set's lineage (extraction +
        # URL window + digest group-min) feeds the band join, the
        # verify join's both sides and the s2 status joins even when
        # no budget is armed: measured A/B at sf1, the persist takes
        # llm_prep_pipeline 32.6 -> 15.8 s med (2.06x; BASELINE r13
        # addendum 2).
        pairs = near_dup_pairs_minhash(
            exact_kept, id_col, "__text",
            shingle_size=shingle_size, threshold=jaccard_threshold,
            candidate_budget=near_dup_candidate_budget,
        )
        comp = connected_components(pairs, "id_a", "id_b")
    else:
        from kinesis_vcr_spark.operators.dedup import lsh_band_components

        # exact_kept was materialized above, as in the verified branch.
        comp = lsh_band_components(
            exact_kept, id_col, "__text", shingle_size=shingle_size
        )
    near_drops = (
        comp.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
        .withColumn("__near_drop", F.lit(True))
    )

    s2 = exact_kept.join(near_drops, id_col, "left_anti")
    bench_text = benchmark.select(
        F.col(id_col),
        canonicalize_text(html_to_text(F.col(html_col))).alias("__text"),
    )
    contam = (
        ngram_contamination(
            s2, bench_text, id_col, "__text", n=decontam_n,
            min_hits=min_hits,
        )
        .where(F.col("contaminated"))
        .select(id_col)
        .withColumn("__contam", F.lit(True))
    )

    kept_ids = s2.join(contam, id_col, "left_anti").select(id_col)
    splits = train_val_test_split(
        kept_ids, [id_col],
        {"train": 0.8, "val": 0.1, "test": 0.1}, seed=split_seed,
    ).select(id_col, "split")

    labeled = (
        base.join(exact_winners, id_col, "left")
        .join(near_drops, id_col, "left")
        .join(contam, id_col, "left")
        .join(splits, id_col, "left")
    )
    # __exact_keep is NULL for every row that did not win exact dedup —
    # including rows dropped at earlier stages, which the earlier whens
    # catch first (they are non-NULL for all valid rows).
    status = (
        F.when(~valid, F.lit(STATUS_INVALID))
        .when(idc != F.col("__url_winner"), F.lit(STATUS_URL))
        .when(F.col("__pred_lang") != keep_lang, F.lit(STATUS_LANG))
        .when(F.col("__q") < quality_threshold, F.lit(STATUS_QUALITY))
        .when(F.col("__exact_keep").isNull(), F.lit(STATUS_EXACT))
        .when(F.col("__near_drop"), F.lit(STATUS_NEAR))
        .when(F.col("__contam"), F.lit(STATUS_CONTAM))
        .otherwise(F.lit(STATUS_KEPT))
    )
    return labeled.select(
        *docs.columns,
        status.alias("status"),
        F.coalesce(F.col("split"), F.lit("-")).alias("split"),
    )
