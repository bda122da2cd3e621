"""The composed end-to-end LLM-prep driver query (r07 verdict item 5):
URL dedup → HTML extract → NFC → langid/quality filter → exact + near
dedup → decontamination → deterministic split, every document labeled
with the stage that removed it.

The fixture corpus is plain text, so the crawl shape is injected
deterministically (the repo's inject-then-process discipline, same as
``url_canonical_dedup`` / ``html_extract_stats``): every doc gets one
URL whose raw spelling varies by ``doc_id % 4`` (docs with
``doc_id % 7 == 1`` share the previous doc's page — the URL-dup
population) and an HTML wrap chosen by ``length(text) % 4`` — keyed on
the TEXT, not the id, so the fixture's planted exact-duplicate texts
always receive identical wraps and the exact-dedup stage stays
non-vacuous. Wrap variant 0 plants a DECOMPOSED ``e`` + combining
acute so the NFC stage provably rewrites bytes.

Oracle discipline: every sub-expression the Spark side evaluates is
either GENERATED into the SQL from the same source of truth
(``html_to_text_sql`` from HTML_STEPS, ``canonicalize_url_sql`` from
CANON_STEPS, the langid CASE from STOPWORDS/LANGS, the quality formula
from ``_quality_sql_expr``) or is the already-parity-proven ticket
md5 scheme — the oracle recomputes the ENTIRE pipeline relationally,
including brute-force Jaccard pairs and recursive-CTE components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold
from kinesis_vcr_spark.functions.text import CONTROL_CHARS, LANGS, STOPWORDS
from kinesis_vcr_spark.queries import QuerySpec, register
from kinesis_vcr_spark.tables import load_table

E2E_SEED = "e2e"
E2E_BENCH_MOD = 97
E2E_J = 0.6
E2E_Q = 0.6
E2E_N = 5  # decontam word-n-gram size


def _injected(docs: DataFrame) -> DataFrame:
    """(doc_id, source, url, html) — the deterministic crawl shape."""
    page = (
        F.when(F.pmod("doc_id", F.lit(7)) == 1, F.col("doc_id") - 1)
        .otherwise(F.col("doc_id"))
        .cast("string")
    )
    v = F.pmod("doc_id", F.lit(4))
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://site"), page, F.lit(".com/Article"), page))
        .when(v == 1, F.concat(
            F.lit("http://www.site"), page, F.lit(".com/Article"), page,
            F.lit("/")))
        .when(v == 2, F.concat(
            F.lit("https://SITE"), page, F.lit(".com:443/Article"), page,
            F.lit("?utm_source=feed#sec")))
        .otherwise(F.concat(
            F.lit("http://site"), page, F.lit(".com:80/Article"), page,
            F.lit("?fbclid=abc")))
    )
    hv = F.pmod(F.length("text"), F.lit(4))
    t = F.col("text")
    html = (
        F.when(hv == 0, F.concat(
            F.lit("<html><body><p>"), t,
            F.lit(" cafe\u0301</p></body></html>")))
        .when(hv == 1, F.concat(
            F.lit("<script>var x = 1 < 2;</script>"
                  "<style>p {color:red}</style><p>"), t,
            F.lit(" &amp; more &lt;here&gt;</p>")))
        .when(hv == 2, F.concat(
            F.lit('<div><a href="/">Home</a> | <a href="/a">About us</a>'
                  "<p>"), t, F.lit('</p><a href="/c">Contact</a></div>')))
        .otherwise(F.concat(
            F.lit("<!-- header --><h1>Title &quot;h&quot;</h1>"), t,
            F.lit("<br>tail &#39;line&#39; &nbsp;end")))
    )
    return docs.select(
        "doc_id", "source", url.alias("url"), html.alias("html")
    )


def llm_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, status, split) doc counts of the full pipeline
    (:func:`kinesis_vcr_spark.operators.pipeline.llm_prep_corpus`) over
    the injected crawl; the benchmark eval set is every 97th doc, in
    the same crawl shape."""
    from kinesis_vcr_spark.operators.pipeline import llm_prep_corpus

    injected = _injected(load_table(spark, sf_dir, "documents"))
    bench = injected.where(
        F.pmod("doc_id", F.lit(E2E_BENCH_MOD)) == 0
    ).select("doc_id", "html")
    out = llm_prep_corpus(
        injected, bench,
        quality_threshold=E2E_Q, jaccard_threshold=E2E_J,
        decontam_n=E2E_N, split_seed=E2E_SEED,
    )
    return (
        out.groupBy("source", "status", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "status", "split")
    )


def _langid_case_sql(col: str) -> str:
    """The predicted-lang CASE generated from LANGS/STOPWORDS — same
    tie-break as functions.text.predicted_lang (first alphabetical
    language wins)."""

    def hits(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            f"len(list_intersect(list_distinct(string_split({col}, ' ')), "
            f"[{words}]))"
        )

    h = {lang: f"h_{lang}" for lang in LANGS}
    defs = ", ".join(f"{hits(lang)} AS {h[lang]}" for lang in LANGS)
    gr = f"greatest({', '.join(h.values())})"
    whens = " ".join(
        f"WHEN {h[lang]} = {gr} THEN '{lang}'" for lang in LANGS[:-1]
    )
    return defs, f"CASE {whens} ELSE '{LANGS[-1]}' END"


def _e2e_common_sql(
    html_suffix_sql: str = "''", line_dedup_min_docs: int | None = None,
    q_threshold: float = E2E_Q,
) -> str:
    """The pipeline-recomputation CTE chain through ``contam`` —
    shared by the stage-label oracle (:func:`_e2e_sql`) and the
    span-removal oracle (:func:`_e2e_spans_sql`), so the two cannot
    drift apart on any stage's semantics. ``html_suffix_sql`` is
    appended to every injected page (the spans query's shared-footer
    plant); the default empty suffix reproduces the r08 fixture
    byte-identically.

    ``line_dedup_min_docs``: when set, C4-style corpus-wide line
    dedup (drop every extracted-text line occurring in ≥ that many
    distinct documents) runs BEFORE the pipeline — the
    boilerplate-first ordering of BASELINE r10 addendum 5 path (c);
    ``extracted.txt`` is then the line-cleaned text, while
    ``bench_grams`` still reads the RAW extraction (the eval set is
    external data and is never line-deduped)."""
    from kinesis_vcr_spark.functions.html import html_to_text_sql
    from kinesis_vcr_spark.operators.urldedup import canonicalize_url_sql
    from kinesis_vcr_spark.queries.dedup import _quality_sql_expr

    url_case = """CASE doc_id % 4
      WHEN 0 THEN 'https://site' || pg || '.com/Article' || pg
      WHEN 1 THEN 'http://www.site' || pg || '.com/Article' || pg || '/'
      WHEN 2 THEN 'https://SITE' || pg || '.com:443/Article' || pg
                  || '?utm_source=feed#sec'
      ELSE 'http://site' || pg || '.com:80/Article' || pg || '?fbclid=abc'
    END"""
    html_case = """CASE length(text) % 4
      WHEN 0 THEN '<html><body><p>' || text || ' cafe' || chr(769)
                  || '</p></body></html>'
      WHEN 1 THEN '<script>var x = 1 < 2;</script><style>p {color:red}</style><p>'
                  || text || ' &amp; more &lt;here&gt;</p>'
      WHEN 2 THEN '<div><a href="/">Home</a> | <a href="/a">About us</a><p>'
                  || text || '</p><a href="/c">Contact</a></div>'
      ELSE '<!-- header --><h1>Title &quot;h&quot;</h1>' || text
           || '<br>tail &#39;line&#39; &nbsp;end'
    END"""
    txt = (
        f"regexp_replace(nfc_normalize({html_to_text_sql('html')}), "
        f"'{CONTROL_CHARS}', '', 'g')"
    )
    hit_defs, lang_case = _langid_case_sql("txt")
    q = _quality_sql_expr("txt")
    n1 = E2E_N - 1
    if line_dedup_min_docs is None:
        extract_block = f"""extracted AS (
  SELECT doc_id, source,
         {txt} AS txt,
         {canonicalize_url_sql('url')} AS canon_url,
         (doc_id IS NOT NULL AND url IS NOT NULL AND html IS NOT NULL)
           AS io_ok
  FROM injected
)"""
        bench_src, bench_col = "extracted", "txt"
    else:
        # line-dedup-first: raw extraction → per-line doc counts →
        # boilerplate set → reassembly; docs whose raw text is NULL or
        # has no non-empty lines are absent from cln and surface with
        # NULL txt (→ dropped_invalid), matching operators/linededup's
        # explode-drop semantics.
        extract_block = f"""rawx AS (
  SELECT doc_id, source,
         {txt} AS rtxt,
         {canonicalize_url_sql('url')} AS canon_url,
         (doc_id IS NOT NULL AND url IS NOT NULL AND html IS NOT NULL)
           AS io_ok
  FROM injected
), lnsplit AS (
  SELECT doc_id, string_split(rtxt, chr(10)) AS ls
  FROM rawx WHERE rtxt IS NOT NULL
), ln AS (
  SELECT doc_id, unnest(ls) AS line,
         unnest(range(1, len(ls) + 1)) AS pos
  FROM lnsplit
), ne AS (
  SELECT * FROM ln WHERE length(line) > 0
), bp AS (
  SELECT line FROM (
    SELECT line, count(DISTINCT doc_id) AS d FROM ne GROUP BY line
  ) WHERE d >= {line_dedup_min_docs}
), cln AS (
  SELECT n.doc_id,
         coalesce(string_agg(CASE WHEN b.line IS NULL THEN n.line END,
                             chr(10) ORDER BY n.pos), '') AS ctxt
  FROM ne n LEFT JOIN bp b USING (line) GROUP BY n.doc_id
), extracted AS (
  -- fully-boilerplate pages clean to '' = invalid content (NULL txt)
  SELECT r.doc_id, r.source, nullif(c.ctxt, '') AS txt,
         r.canon_url, r.io_ok
  FROM rawx r LEFT JOIN cln c USING (doc_id)
)"""
        bench_src, bench_col = "rawx", "rtxt"
    return f"""
WITH RECURSIVE injected AS (
  SELECT doc_id, source,
         {url_case} AS url,
         ({html_case}) || {html_suffix_sql} AS html
  FROM (SELECT *, CAST(CASE WHEN doc_id % 7 = 1 THEN doc_id - 1
                            ELSE doc_id END AS VARCHAR) AS pg
        FROM documents)
), {extract_block}, url_w AS (
  -- invalid rows (NULL id/url/html/text) never win a URL group and
  -- never enter the pipeline (mirrors llm_prep_corpus's `valid`)
  SELECT *, (io_ok AND txt IS NOT NULL) AS valid,
         min(CASE WHEN io_ok AND txt IS NOT NULL THEN doc_id END)
           OVER (PARTITION BY canon_url) AS url_winner
  FROM extracted
), scored AS (
  SELECT doc_id, source, txt, valid, url_winner, {hit_defs},
         {q} AS q
  FROM url_w
), pred AS (
  SELECT *, {lang_case} AS pred_lang FROM scored
), s1 AS (
  SELECT doc_id, txt FROM pred
  WHERE valid AND doc_id = url_winner AND pred_lang = 'en'
        AND q >= {q_threshold}
), exact_w AS (
  SELECT doc_id, txt, min(doc_id) OVER (PARTITION BY txt) AS exact_winner
  FROM s1
), ek AS (
  SELECT doc_id, txt FROM exact_w WHERE doc_id = exact_winner
), toks AS (
  SELECT doc_id, string_split(txt, ' ') AS t FROM ek
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM toks
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= {E2E_J}
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
), near_drop AS (
  SELECT node AS doc_id FROM (
    SELECT node, min(lbl) AS component FROM reach GROUP BY node
  ) WHERE node <> component
), s2 AS (
  SELECT doc_id, txt FROM ek
  WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
), bench_grams AS (
  SELECT DISTINCT unnest(
      list_distinct(list_transform(
          range(1, greatest(len(string_split({bench_col}, ' ')) - {n1}, 1)
                + 1),
          i -> array_to_string(
              list_slice(string_split({bench_col}, ' '), i, i + {n1}),
              ' '))))
    AS gram
  FROM {bench_src} WHERE doc_id % {E2E_BENCH_MOD} = 0
), dg AS (
  SELECT doc_id, unnest(
      list_distinct(list_transform(
          range(1, greatest(len(string_split(txt, ' ')) - {n1}, 1) + 1),
          i -> array_to_string(
              list_slice(string_split(txt, ' '), i, i + {n1}), ' '))))
    AS gram
  FROM s2
), contam AS (
  SELECT DISTINCT d.doc_id
  FROM dg d JOIN bench_grams b USING (gram)
)"""


def _e2e_sql() -> str:
    from kinesis_vcr_spark.operators.sampling import ticket_threshold
    from kinesis_vcr_spark.queries.llmprep import _ticket_sql

    return f"""{_e2e_common_sql()}, labeled AS (
  SELECT p.source,
         CASE WHEN NOT p.valid THEN 'dropped_invalid'
              WHEN p.doc_id <> p.url_winner THEN 'dropped_url_dup'
              WHEN p.pred_lang <> 'en' THEN 'dropped_lang'
              WHEN p.q < {E2E_Q} THEN 'dropped_quality'
              WHEN p.doc_id <> ew.exact_winner THEN 'dropped_exact'
              WHEN nd.doc_id IS NOT NULL THEN 'dropped_near_dup'
              WHEN c.doc_id IS NOT NULL THEN 'dropped_contaminated'
              ELSE 'kept' END AS status,
         CASE WHEN p.valid AND p.doc_id = p.url_winner
                   AND p.pred_lang = 'en'
                   AND p.q >= {E2E_Q} AND p.doc_id = ew.exact_winner
                   AND nd.doc_id IS NULL AND c.doc_id IS NULL
              THEN CASE WHEN {_ticket_sql(E2E_SEED, "p.doc_id")}
                            < '{ticket_threshold(0.8)}' THEN 'train'
                        WHEN {_ticket_sql(E2E_SEED, "p.doc_id")}
                            < '{ticket_threshold(0.9)}' THEN 'val'
                        ELSE 'test' END
              ELSE '-' END AS split
  FROM pred p
  LEFT JOIN exact_w ew ON ew.doc_id = p.doc_id
  LEFT JOIN near_drop nd ON nd.doc_id = p.doc_id
  LEFT JOIN contam c ON c.doc_id = p.doc_id
)
SELECT source, status, split, count(*) AS n_docs
FROM labeled GROUP BY source, status, split
ORDER BY source, status, split
"""


register(QuerySpec(
    "llm_prep_pipeline", llm_prep_pipeline, _e2e_sql(),
    "end-to-end LLM-prep: URL dedup → HTML extract → NFC → langid/"
    "quality → exact+near dedup → decontam → split, stage-labeled",
))


# ---------------------------------------------------------------------------
# pipeline + exact duplicate-SPAN removal (the Lee et al. 2022
# complement: doc-level dedup keeps one copy of a page, span removal
# cuts the verbatim boilerplate the survivors still share)
# ---------------------------------------------------------------------------

#: span threshold for the composed query — BELOW the standalone
#: doc_dup_span_stats' 40 because the pipeline's exact+near stages have
#: already removed whole-document duplication, so what remains shared
#: among kept docs is shorter boilerplate; 25 keeps the fixture
#: non-vacuous at every sf (test-pinned).
E2E_SPAN_L = 25

#: the shared-boilerplate plant for the spans query (the crawl reality
#: span removal exists for: every page of a site carries the same
#: footer, and doc-level dedup keeps all of them because the BODIES
#: differ). Appended to every injected page EXCEPT the benchmark rows
#: (doc_id % E2E_BENCH_MOD == 0) — the eval set must not share the
#: footer's word-5-grams or decontamination would drop every kept doc.
E2E_FOOTER = (
    "<p>All rights reserved worldwide. Subscribe to our newsletter "
    "for weekly updates and exclusive offers.</p>"
)


#: circuit-breaker budget for the LEGACY footer-saturated ordering
#: (r11 verdict "What's wrong" 1): measured candidate counts on this
#: corpus are ~1.77 M at sf1 (28× headroom below the budget) growing
#: super-linearly toward the ~300 GB / ENOSPC verification exchange at
#: sf100 (BASELINE r10 addendum 2) — so at driver/bench scales the row
#: runs exactly as before, and at the scales where the plan is wrong it
#: raises CandidateBlowupError (measured count + the clean-ordering
#: pointer) instead of filling the cluster's disk.
E2E_SPANS_CANDIDATE_BUDGET = 50_000_000


def llm_prep_spans(
    spark: SparkSession, sf_dir: str, near_dup: str = "verified"
) -> DataFrame:
    """The production step AFTER :func:`llm_prep_pipeline` keeps a
    corpus: exact duplicate-span removal (operators/spandedup.py)
    across the KEPT documents' extracted text — per kept doc, its
    split, maximal duplicated-span count, duplicated chars, and the
    length + md5 of the stitched clean text. Composes the two big
    machines (stage-labeled pipeline, ExactSubstr spans) end to end;
    the oracle recomputes BOTH relationally from the shared CTE
    prefix, so the kept-set and the span answers are value-checked
    together.

    The injected crawl additionally plants a shared site footer
    (:data:`E2E_FOOTER`) on every non-benchmark page — the crawl
    reality span removal exists for: doc-level dedup keeps one page
    per distinct BODY, and every survivor still carries the same
    boilerplate, which only span-level removal cuts. Benchmark rows
    are excluded from the plant so decontamination stays footer-blind
    (otherwise every kept doc would share the eval set's 5-grams)."""
    from kinesis_vcr_spark.functions.html import html_to_text
    from kinesis_vcr_spark.functions.text import canonicalize_text
    from kinesis_vcr_spark.operators.pipeline import llm_prep_corpus

    injected = _injected(load_table(spark, sf_dir, "documents")).withColumn(
        "html",
        F.when(
            F.pmod("doc_id", F.lit(E2E_BENCH_MOD)) == 0, F.col("html")
        ).otherwise(F.concat(F.col("html"), F.lit(E2E_FOOTER))),
    )
    bench = injected.where(
        F.pmod("doc_id", F.lit(E2E_BENCH_MOD)) == 0
    ).select("doc_id", "html")
    out = llm_prep_corpus(
        injected, bench,
        quality_threshold=E2E_Q, jaccard_threshold=E2E_J,
        decontam_n=E2E_N, split_seed=E2E_SEED, near_dup=near_dup,
        near_dup_candidate_budget=(
            E2E_SPANS_CANDIDATE_BUDGET if near_dup == "verified" else None
        ),
    )
    return _span_stage(
        out.where(F.col("status") == "kept").select(
            "doc_id",
            "split",
            canonicalize_text(html_to_text(F.col("html"))).alias("__text"),
        )
    )


def _span_stage(kept: DataFrame) -> DataFrame:
    """Duplicate-span stats + removal over the kept frame (doc_id,
    split, __text) — the shared tail of ``llm_prep_spans`` and
    ``llm_prep_spans_clean``."""
    from kinesis_vcr_spark.operators.spandedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    # kept is the small survivor table with the ENTIRE pipeline
    # (LSH + components + windows) as lineage, and the span stage
    # reads it three times (gate count, spans, stitch join) — persist
    # it or every consumer re-executes the pipeline (measured 3x the
    # query at sf0.1, the same multiplicative-recompute trap the
    # pipeline's own exact-dedup stage documents)
    # persist, not checkpoint: r14 A/B measured llm_prep_spans 12.9→14.5 s
    kept = hold("llm_prep_spans_kept", kept)
    # one spans table, two consumers (stats + stitching): persist +
    # materialize so the gram pipeline runs once
    spans = hold(
        "llm_prep_spans_spans",
        duplicated_spans(kept, "doc_id", "__text", min_len=E2E_SPAN_L),
    )
    spans.count()
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(
            F.col("span_end") - F.col("span_start") + F.lit(1)
        ).alias("dup_chars"),
    )
    cleaned = remove_duplicated_spans(
        kept, "doc_id", "__text", min_len=E2E_SPAN_L, spans=spans
    )
    return (
        cleaned.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "split",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            F.length("clean_text").alias("clean_len"),
            F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def _e2e_spans_sql(
    line_dedup_min_docs: int | None = None, q_threshold: float = E2E_Q
) -> str:
    from kinesis_vcr_spark.operators.sampling import ticket_threshold
    from kinesis_vcr_spark.queries.llmprep import _ticket_sql

    L = E2E_SPAN_L
    suffix = (
        f"CASE WHEN doc_id % {E2E_BENCH_MOD} = 0 THEN '' "
        f"ELSE '{E2E_FOOTER}' END"
    )
    return f"""{
        _e2e_common_sql(suffix, line_dedup_min_docs, q_threshold)
    }, kept AS (
  SELECT p.doc_id, p.txt,
         CASE WHEN {_ticket_sql(E2E_SEED, "p.doc_id")}
                  < '{ticket_threshold(0.8)}' THEN 'train'
              WHEN {_ticket_sql(E2E_SEED, "p.doc_id")}
                  < '{ticket_threshold(0.9)}' THEN 'val'
              ELSE 'test' END AS split
  FROM pred p
  LEFT JOIN exact_w ew ON ew.doc_id = p.doc_id
  LEFT JOIN near_drop nd ON nd.doc_id = p.doc_id
  LEFT JOIN contam c ON c.doc_id = p.doc_id
  WHERE p.valid AND p.doc_id = p.url_winner AND p.pred_lang = 'en'
        AND p.q >= {q_threshold} AND p.doc_id = ew.exact_winner
        AND nd.doc_id IS NULL AND c.doc_id IS NULL
), pos AS (
  SELECT doc_id, CAST(p AS INT) AS p,
         substr(txt, CAST(p AS INT), {L}) AS g
  FROM kept,
       unnest(range(1, length(txt) - {L - 1} + 1)) t(p)
  WHERE length(txt) >= {L}
), covered AS (
  SELECT doc_id, p, p + {L - 1} AS e FROM (
    SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS n FROM pos
  ) WHERE n >= 2
), flagged AS (
  SELECT doc_id, p, e,
         CASE WHEN p > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -1) + 1
              THEN 1 ELSE 0 END AS newf
  FROM covered
), islands AS (
  SELECT doc_id, p, e,
         sum(newf) OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS isl
  FROM flagged
), spans AS (
  SELECT doc_id, min(p) AS s, max(e) AS e
  FROM islands GROUP BY doc_id, isl
), pieces AS (
  SELECT doc_id, s, e,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
  FROM spans
), stitched AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_chars,
         string_agg(substr(k.txt, pe + 1, s - pe - 1), '' ORDER BY s)
           || coalesce(substr(any_value(k.txt), CAST(max(e) AS INT) + 1),
                       '')
           AS clean_text
  FROM pieces p JOIN kept k USING (doc_id)
  GROUP BY p.doc_id
)
SELECT k.doc_id, k.split,
       CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(st.dup_chars, 0) AS BIGINT) AS dup_chars,
       length(coalesce(st.clean_text, k.txt)) AS clean_len,
       md5(coalesce(st.clean_text, k.txt)) AS clean_md5
FROM kept k LEFT JOIN stitched st USING (doc_id)
ORDER BY k.doc_id
"""


register(QuerySpec(
    "llm_prep_spans", llm_prep_spans, _e2e_spans_sql(),
    "LLM-prep kept corpus → exact duplicate-span removal: per kept "
    "doc its split, span count, duplicated chars and stitched-clean "
    "md5, oracle-recomputed from the shared pipeline CTE prefix",
))


def llm_prep_spans_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`llm_prep_spans` with the pipeline's near-dup stage in
    ``lsh_components`` mode (operators/dedup.py
    ``lsh_band_components``) — the Θ(n·bands) posture that makes the
    footer-saturated corpus tractable at sf100 where the verified pair
    path's candidate×shingle exchange cannot fit a single rig
    (BASELINE r10 addendum 2).

    ROWS-ONLY BY DESIGN, with the divergence measured rather than
    asserted away: at sf0.01 this keeps 168 docs where the verified
    pipeline keeps 177 — the ~5% extra drops are noise band
    collisions merging sub-threshold pairs, exactly the union-bounded
    precision trade the operator's docstring states (P = J^rows per
    band) — and on the footer corpus the divergence COMPOUNDS with
    scale into percolation (kept fraction 95% → 35% → 0.02% across
    sf0.01/sf10/sf100; the operator docstring's warning, BASELINE r10
    addendum 5). This query therefore exists as the measured exhibit
    of both sides of the trade: the sf100 rung that the verified mode
    cannot fit a single rig COMPLETES here (1111 s staged), and the
    result shows why the production answer is boilerplate-stripping
    BEFORE doc-level LSH rather than dropping verification. Exactness
    guarantees are pinned where they hold — the planted-twin query
    ``dedup_components_lsh_planted`` (identical text ⇒ certain
    co-membership, exact oracle) and the bimodal parity test in
    tests/test_lsh_components.py. The driver records the weaker
    rows-only check; the verified twin ``llm_prep_spans`` stays the
    hash-checked row."""
    return llm_prep_spans(spark, sf_dir, near_dup="lsh_components")


register(QuerySpec(
    "llm_prep_spans_lsh", llm_prep_spans_lsh, None,
    "llm_prep_spans through the verification-free LSH component path "
    "(rows-only: ~5% more drops than verified from documented noise "
    "merges; exactness pinned by dedup_components_lsh_planted)",
))


#: C4-style line-dedup threshold for the boilerplate-first ordering —
#: a line occurring verbatim in >= this many distinct documents is
#: corpus boilerplate (Raffel et al. 2020 §2.2 uses 3).
E2E_LINE_MIN = 3

#: quality threshold for the CLEANED corpus. Thresholds are tuned per
#: pipeline stage in production, and boilerplate stripping SHIFTS the
#: quality distribution: the footer's 14 tokens carried stopwords and
#: length that inflated every page's score, so the footer-corpus gate
#: (E2E_Q=0.6, which keeps 177 docs in llm_prep_spans) would keep 2
#: docs post-strip — the gate was measuring the boilerplate, not the
#: documents. 0.52 restores a comparable kept population (302 docs
#: pass the scalar gate at sf0.01) on footer-free scores.
E2E_CLEAN_Q = 0.52


def llm_prep_spans_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`llm_prep_spans` in the PRODUCTION ordering — BASELINE
    r10 addendum 5 path (c): corpus-wide C4 line dedup
    (operators/linededup.py) strips shared boilerplate lines (the
    planted site footer, nav text) BEFORE the pipeline, so the
    verified near-dup stage sees a boilerplate-free corpus and its
    candidate set tracks the plain corpus (320 candidates at sf1 vs
    1.77 M for the footer corpus; linear by shape through sf100)
    instead of going super-linear on footer collisions.

    Flow: injected crawl + footer plant → extract+canonicalize text →
    ``dedup_lines`` (min_docs=3 over the extracted '\\n' lines —
    html_to_text turns block boundaries into newlines, so the footer
    paragraph is one corpus-wide line) → ``llm_prep_corpus`` on the
    CLEANED text (URL dedup, langid, quality, exact + verified
    near-dup, decontam, split all see footer-free bytes; the
    benchmark eval set stays RAW — external data is never
    line-deduped) → exact duplicate-span removal over the kept docs.
    Output schema identical to ``llm_prep_spans``; the DuckDB oracle
    recomputes the entire ordering relationally, line dedup included.
    """
    from kinesis_vcr_spark.functions.html import html_to_text
    from kinesis_vcr_spark.functions.text import canonicalize_text
    from kinesis_vcr_spark.operators.linededup import dedup_lines
    from kinesis_vcr_spark.operators.pipeline import llm_prep_corpus

    injected = _injected(load_table(spark, sf_dir, "documents")).withColumn(
        "html",
        F.when(
            F.pmod("doc_id", F.lit(E2E_BENCH_MOD)) == 0, F.col("html")
        ).otherwise(F.concat(F.col("html"), F.lit(E2E_FOOTER))),
    )
    raw = injected.withColumn(
        "__raw", canonicalize_text(html_to_text(F.col("html")))
    )
    # a fully-boilerplate page line-dedups to '' — that is INVALID
    # content, not a scorable document (and quality_score on an empty
    # string divides by zero under ANSI mode — caught by the sf100
    # rung, where 5M docs make >=3-way exact-duplicate bodies common
    # enough that whole docs ARE their boilerplate); NULL it so the
    # pipeline's dropped_invalid stage takes those rows
    clean = dedup_lines(
        raw.select("doc_id", "__raw"),
        "doc_id",
        F.split(F.col("__raw"), "\n"),
        min_docs=E2E_LINE_MIN,
    ).select(
        "doc_id",
        F.when(
            F.length("clean_text") > 0, F.col("clean_text")
        ).alias("__clean"),
    )
    docs2 = raw.join(clean, "doc_id", "left")
    bench = injected.where(
        F.pmod("doc_id", F.lit(E2E_BENCH_MOD)) == 0
    ).select("doc_id", "html")
    out = llm_prep_corpus(
        docs2, bench,
        quality_threshold=E2E_CLEAN_Q, jaccard_threshold=E2E_J,
        decontam_n=E2E_N, split_seed=E2E_SEED, text_col="__clean",
    )
    return _span_stage(
        out.where(F.col("status") == "kept").select(
            "doc_id", "split", F.col("__clean").alias("__text")
        )
    )


register(QuerySpec(
    "llm_prep_spans_clean", llm_prep_spans_clean,
    _e2e_spans_sql(
        line_dedup_min_docs=E2E_LINE_MIN, q_threshold=E2E_CLEAN_Q
    ),
    "boilerplate-first LLM prep (path c): C4 line dedup strips the "
    "shared footer BEFORE verified near-dup + span removal — the "
    "ordering whose candidate count stays linear through sf100",
))
