"""Dedup queries over the driver's synthetic tables — the
oracle-checkable surface of :mod:`kinesis_vcr_spark.operators.dedup`.

Oracle strategy: the Spark side uses hashed/bucketed candidate
generation (LSH bands, pigeonhole blocks) that DuckDB can't reproduce,
but every query's OUTPUT is hash-independent — verified pairs with
exact Jaccard / cosine, or deterministic winners — so the oracle just
brute-forces the same definition over all pairs (fine at sf0.01's 500
docs; the Spark plan is the one that scales).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.cacheutil import hold
from kinesis_vcr_spark.operators.dedup import (
    adaptive_minhash_bands,
    dedup_exact,
    near_dup_pairs_embedding,
    near_dup_pairs_minhash,
    near_dup_pairs_simhash,
)
from kinesis_vcr_spark.queries import QuerySpec, register
from kinesis_vcr_spark.tables import load_table, widen_small_scan

# ---------------------------------------------------------------------------
# exact dedup — events.props carries natural duplicate payloads
# ---------------------------------------------------------------------------


def dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of the event payload column: one deterministic winner
    (min event_id) per distinct payload + how many copies it had.
    One shuffle on the content key; winner selection is a window."""
    events = load_table(spark, sf_dir, "events").select("event_id", "props")
    kept = dedup_exact(events, ["props"], "event_id")
    counts = events.groupBy("props").agg(F.count("*").alias("dup_count"))
    return (
        # eqNullSafe: a NULL payload group must survive the re-join (a
        # plain equi-join would drop it while the oracle's GROUP BY
        # keeps it — ADVICE r02)
        kept.join(counts, kept.props.eqNullSafe(counts.props))
        .select("event_id", "dup_count")
        .orderBy("event_id")
    )


DEDUP_EXACT_SQL = """
SELECT min(event_id) AS event_id, count(*) AS dup_count
FROM events GROUP BY props ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# near-dup via MinHash LSH on word 3-shingles
# ---------------------------------------------------------------------------

J_THRESHOLD = 0.6


def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact Jaccard ≥ 0.6.

    At this threshold the banding (16 bands x 4 rows) misses a
    qualifying pair with p ≤ (1-0.6^4)^16 ≈ 0.1 in the worst case — but
    the synthetic corpus is bimodal (planted pairs at J ≥ 0.96, noise
    < 0.3), where miss probability is ≈ 6e-14; the brute-force oracle
    confirms exact agreement.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_minhash(
        docs, "doc_id", "text", shingle_size=3, num_hashes=64, bands=16,
        threshold=J_THRESHOLD,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


MINHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id,
         -- list_slice clamps at the array end, so docs with < 3 tokens
         -- yield one whole-text shingle, mirroring word_shingles (a
         -- t[i+2] index past the end would yield NULL shingles instead)
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= {J_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# incremental near-dup via the persisted MinHash band index
# ---------------------------------------------------------------------------

IDX_NEW_MOD = 4  # doc_id % 4 == 0 → the "new batch"; rest → indexed corpus


def dedup_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup shape (operators/dedup_index.py): build
    the persisted MinHash band index over the corpus (doc_id % 4 != 0),
    probe the "new batch" (doc_id % 4 == 0) against it — near-dup pairs
    touching the batch (new×old ∪ new×new), exact Jaccard ≥ 0.6,
    without re-LSHing the corpus. Same bimodal-fixture recall argument
    as ``dedup_near_minhash`` (planted pairs J ≥ 0.96, noise < 0.3 →
    banding miss p ≈ 6e-14), so the brute-force oracle restricted to
    batch-touching pairs agrees exactly."""
    import os
    import tempfile

    from kinesis_vcr_spark.operators.dedup_index import (
        build_near_dup_index,
        load_near_dup_index,
        near_dup_against_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % IDX_NEW_MOD != 0)
    new = docs.where(F.col("doc_id") % IDX_NEW_MOD == 0)
    # deterministic per-sf path, overwritten per run (the query gate
    # re-exercises the BUILD as well as the probe; the build-once /
    # probe-many split is pinned in tests/test_dedup_index.py)
    path = os.path.join(
        tempfile.gettempdir(),
        f"kvs_ndindex_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    build_near_dup_index(
        old, path, "doc_id", "text",
        shingle_size=3, num_hashes=64, bands=16,
    )
    idx = load_near_dup_index(spark, path)
    pairs = near_dup_against_index(
        new, idx, "doc_id", "text", threshold=J_THRESHOLD
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


def dedup_index_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The METASTORE twin of ``dedup_index_incremental`` (VERDICT r06
    item 7): identical corpus/batch split and identical expected pairs
    (same IDX_SQL oracle), but through the
    ``bucketBy(band_pos, band_hash)``/``bucketBy(id)`` tables whose
    probe plan
    never shuffles a stored row — driver-grade evidence that the
    only-shuffle-the-batch path computes the same answer as the
    parquet artifact (plan Exchange-freedom itself is pinned in
    tests/test_dedup_index.py)."""
    import os
    import re

    from kinesis_vcr_spark.operators.dedup_index import (
        build_near_dup_index_bucketed,
        near_dup_against_bucketed_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % IDX_NEW_MOD != 0)
    new = docs.where(F.col("doc_id") % IDX_NEW_MOD == 0)
    prefix = "ndidx_bq_" + re.sub(
        r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/"))
    )
    # the catalog is session-local, so the query re-exercises the
    # bucketed BUILD too (overwrite), exactly like its parquet twin
    build_near_dup_index_bucketed(
        old, prefix, "doc_id", "text",
        shingle_size=3, num_hashes=64, bands=16,
    )
    pairs = near_dup_against_bucketed_index(
        new, spark, prefix, "doc_id", "text", threshold=J_THRESHOLD
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


IDX_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM toks
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE (a.doc_id % {IDX_NEW_MOD} = 0 OR b.doc_id % {IDX_NEW_MOD} = 0)
  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= {J_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# near-dup via char-4-gram Jaccard (tokenizer-independent)
# ---------------------------------------------------------------------------

NGRAM_THRESHOLD = 0.7


#: char-4-grams of same-vocabulary docs run J≈0.35-0.45 between
#: UNRELATED pairs: a measured corpus constant (p95 of exact pairwise
#: Jaccard over a 256-document sample of the documents fixture ≈ 0.45)
#: — the corpus-physics input the adaptive band sizing needs.
NGRAM_J_NOISE = 0.45


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-4-gram Jaccard near-dup pairs (MinHash-LSH candidates,
    exact verification) — whitespace/tokenizer-insensitive variant."""
    # char-4-gram explode over full text is per-row-CPU heavy — widen
    # the single-split fixture scan (A/B: 7.6 s -> 5.8 s at sf0.1)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    # ADAPTIVE band shape (VERDICT r06 item 1): with J_noise just under
    # the threshold, any fixed row width goes super-linear in candidate
    # volume (measured n^1.8 at the sf10 rung). Sizing rows from the
    # corpus count keeps noise candidates Θ(n·bands); at the driver
    # fixture sizes this reduces exactly to the historical 8×8 = 64
    # hashes, so oracle rows are unchanged.
    num_hashes, bands = adaptive_minhash_bands(
        docs.count(), j_noise=NGRAM_J_NOISE
    )
    pairs = near_dup_pairs_minhash(
        docs, "doc_id", "text", shingle_size=4, num_hashes=num_hashes,
        bands=bands, threshold=NGRAM_THRESHOLD, char_ngrams=True,
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


NGRAM_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(length(text) - 3, 1) + 1),
             i -> substring(text, i, 4))) AS shingles
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      / (len(a.shingles) + len(b.shingles)
         - len(list_intersect(a.shingles, b.shingles))) >= {NGRAM_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# near-dup via SimHash (Hamming ≤ 3, pigeonhole-blocked)
# ---------------------------------------------------------------------------


def dedup_near_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3, pigeonhole-blocked).

    Approximate BY DESIGN: SimHash bit agreement tracks cosine of the
    token-frequency vectors, not Jaccard, and on this corpus (short
    docs, one shared vocabulary) the noise floor overlaps the planted
    pairs — so there is no exact SQL ground truth and the driver
    records a rows-only check. The operator's determinism and
    monotonicity (identical docs → distance 0; small perturbations →
    small distance) are asserted in tests/test_dedup.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_simhash(docs, "doc_id", "text", max_hamming=3)
    return pairs.select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# near-dup via embedding cosine (hyperplane-LSH candidates)
# ---------------------------------------------------------------------------

COS_THRESHOLD = 0.95


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ 0.95 (exact verification
    on LSH candidates). The synthetic embeddings top out at cosine
    ≈ 0.51, so the correct answer is empty — the oracle confirms the
    operator introduces no false positives."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = near_dup_pairs_embedding(
        emb, "vec_id", "embedding", threshold=COS_THRESHOLD
    )
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).orderBy("id_a", "id_b")


EMB_COS_SQL = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), n AS (
  SELECT vec_id, e,
         sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), u AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS un FROM n
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_reduce(list_transform(range(1, 65),
                 i -> a.un[i] * b.un[i]), (x, y) -> x + y), 6) AS cosine
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_reduce(list_transform(range(1, 65),
          i -> a.un[i] * b.un[i]), (x, y) -> x + y) >= {COS_THRESHOLD}
ORDER BY id_a, id_b
"""


# --- recall proof: planted identical twins through the SAME LSH operator ---

PLANT_OFFSET = 1_000_000
PLANT_MOD = 10


def dedup_embedding_cosine_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall proof for the hyperplane-LSH path: every 10th vector gets
    an identical twin at ``vec_id + 1e6``, and the SAME LSH operator
    (0.95 threshold) must recover exactly those 50 pairs. Identical
    vectors share every band signature, so candidate recall is 1.0 by
    construction — this row proves the operator FINDS true positives,
    complementing ``dedup_embedding_cosine`` which proves it plants no
    false ones (the raw fixture tops out at cosine ≈ 0.51). Output is
    id pairs only (no float column → hash-stable)."""
    emb = load_table(spark, sf_dir, "embeddings")
    twins = emb.where(F.col("vec_id") % PLANT_MOD == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(PLANT_OFFSET)
    )
    corpus = emb.unionByName(twins)
    pairs = near_dup_pairs_embedding(
        corpus, "vec_id", "embedding", threshold=COS_THRESHOLD
    )
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b")


EMB_PLANTED_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id, embedding
  FROM embeddings WHERE vec_id % {PLANT_MOD} = 0
), v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM corpus
), n AS (
  SELECT vec_id, e,
         sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM v
), u AS (
  SELECT vec_id, list_transform(e, x -> x / nrm) AS un FROM n
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM u a JOIN u b ON a.vec_id < b.vec_id
WHERE list_reduce(list_transform(range(1, 65),
          i -> a.un[i] * b.un[i]), (x, y) -> x + y) >= {COS_THRESHOLD}
ORDER BY id_a, id_b
"""


register(QuerySpec("dedup_exact_events", dedup_exact_events, DEDUP_EXACT_SQL,
                   "exact dedup: deterministic winner per duplicate payload"))
register(QuerySpec("dedup_index_incremental", dedup_index_incremental,
                   IDX_SQL,
                   "persisted-index incremental dedup: build MinHash "
                   "band index on the corpus, probe the new batch — "
                   "new×old ∪ new×new pairs, exact Jaccard ≥ 0.6"))
register(QuerySpec("dedup_index_bucketed", dedup_index_bucketed, IDX_SQL,
                   "bucketed-metastore incremental dedup: same pairs as "
                   "dedup_index_incremental, probe plan shuffles only "
                   "the batch"))
register(QuerySpec("dedup_near_minhash", dedup_near_minhash, MINHASH_SQL,
                   "MinHash-LSH near-dup pairs, exact-Jaccard verified"))
register(QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, NGRAM_SQL,
                   "char-4-gram Jaccard near-dup pairs via LSH"))
register(QuerySpec("dedup_near_simhash", dedup_near_simhash, None,
                   "SimHash pigeonhole-blocked near-dup pairs (approximate)"))


# --- SimHash recall proof: planted identical-text twins (VERDICT r06
# item 2 — the driver-grade companion for the rows-only simhash row) ---

SIMHASH_PLANT_OFFSET = 10_000_000


def dedup_simhash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic oracle-paired recall proof for the SimHash path:
    every 10th document gets an identical-TEXT twin at ``doc_id + 1e7``;
    identical text hashes to the identical 64-bit simhash, so each
    (original, twin) pair agrees on every pigeonhole block, is a
    candidate with certainty, and verifies at Hamming 0. Output is
    restricted to exactly those pairs (``id_b == id_a + offset`` at
    Hamming 0 can ONLY be an original with its own twin), so the
    expected rows are exact SQL even though the searcher is
    approximate — same pattern as the ANN planted companions."""
    docs = load_table(spark, sf_dir, "documents")
    twins = docs.where(F.col("doc_id") % PLANT_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(SIMHASH_PLANT_OFFSET)
    )
    corpus = docs.unionByName(twins)
    pairs = near_dup_pairs_simhash(corpus, "doc_id", "text", max_hamming=3)
    return (
        pairs.where(
            (F.col("id_b") == F.col("id_a") + F.lit(SIMHASH_PLANT_OFFSET))
            & (F.col("hamming") == 0)
        )
        .select("id_a", "id_b")
        .orderBy("id_a")
    )


SIMHASH_PLANTED_SQL = f"""
SELECT doc_id AS id_a, doc_id + {SIMHASH_PLANT_OFFSET} AS id_b
FROM documents WHERE doc_id % {PLANT_MOD} = 0 ORDER BY id_a
"""

register(QuerySpec("dedup_simhash_planted", dedup_simhash_planted,
                   SIMHASH_PLANTED_SQL,
                   "SimHash planted-twin recall: exact oracle for the "
                   "pigeonhole-blocked path"))
register(QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine, EMB_COS_SQL,
                   "embedding-cosine near-dup pairs via hyperplane LSH"))
register(QuerySpec("dedup_embedding_cosine_planted",
                   dedup_embedding_cosine_planted, EMB_PLANTED_SQL,
                   "LSH recall proof: planted identical twins recovered"))


# ---------------------------------------------------------------------------
# near-dup clustering: pairs → connected components → dedup groups
# ---------------------------------------------------------------------------


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph: each
    involved doc labeled with its component root (min doc_id) plus the
    component size — the "which copies form one group" answer that
    drives keep-one-per-group dedup.

    Spark side: hash-min label propagation (operators/components.py);
    oracle: recursive-CTE min-label closure over the same brute-forced
    pair set."""
    from kinesis_vcr_spark.operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs_minhash(
        docs, "doc_id", "text", shingle_size=3, num_hashes=64, bands=16,
        threshold=J_THRESHOLD,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("group_size"))
    return (
        comp.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "group_size")
        .orderBy("doc_id")
    )


COMPONENTS_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id,
         -- list_slice clamps at the array end, so docs with < 3 tokens
         -- yield one whole-text shingle, mirroring word_shingles (a
         -- t[i+2] index past the end would yield NULL shingles instead)
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM toks
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= {J_THRESHOLD}
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, min(lbl) AS component FROM reach GROUP BY node
)
SELECT node AS doc_id, component,
       count(*) OVER (PARTITION BY component) AS group_size
FROM comp ORDER BY doc_id
"""


register(QuerySpec("dedup_components", dedup_components, COMPONENTS_SQL,
                   "near-dup pair graph → connected components (dedup groups)"))


# ---------------------------------------------------------------------------
# end-to-end corpus-cleaning pipeline (exact → near-dup → quality)
# ---------------------------------------------------------------------------


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline
    (:func:`kinesis_vcr_spark.operators.pipeline.clean_corpus`):
    exact dedup → near-dup components → quality filter, every doc
    labeled with the stage that removed it. Output: per-(source,
    status) doc counts; the oracle recomputes the ENTIRE pipeline
    relationally (window-min winners, brute-force Jaccard pairs,
    recursive-CTE components, the quality formula)."""
    from kinesis_vcr_spark.operators.pipeline import clean_corpus

    docs = load_table(spark, sf_dir, "documents")
    labeled = clean_corpus(
        docs, jaccard_threshold=J_THRESHOLD, quality_threshold=0.6
    )
    return (
        labeled.groupBy("source", "status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "status")
    )


def _quality_sql_expr(col: str = "text") -> str:
    from kinesis_vcr_spark.queries.textstats import _EN

    return f"""round((least(len(string_split({col}, ' ')) / 100.0, 1.0)
            + CAST(len(list_filter(string_split({col}, ' '),
                  x -> list_contains([{_EN}], x))) AS DOUBLE)
              / len(string_split({col}, ' '))
            + CAST(len(list_distinct(string_split({col}, ' '))) AS DOUBLE)
              / len(string_split({col}, ' '))
            + CAST(length(regexp_replace({col}, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
              / length({col})
           ) / 4.0, 6)"""


PIPELINE_SQL = f"""
WITH RECURSIVE exact_w AS (
  SELECT doc_id, text, source,
         min(doc_id) OVER (PARTITION BY text) AS exact_winner
  FROM documents
), ek AS (
  SELECT doc_id, text, source FROM exact_w WHERE doc_id = exact_winner
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM ek
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
           - len(list_intersect(a.shingles, b.shingles))) >= {J_THRESHOLD}
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
), quality AS (
  SELECT doc_id, {_quality_sql_expr()} AS q FROM ek
), labeled AS (
  SELECT e.source,
         CASE WHEN e.doc_id <> e.exact_winner THEN 'dropped_exact'
              WHEN nd.doc_id IS NOT NULL THEN 'dropped_near_dup'
              WHEN q.q < 0.6 THEN 'dropped_quality'
              ELSE 'kept' END AS status
  FROM exact_w e
  LEFT JOIN near_drop nd ON nd.doc_id = e.doc_id
  LEFT JOIN quality q ON q.doc_id = e.doc_id
)
SELECT source, status, count(*) AS n_docs
FROM labeled GROUP BY source, status ORDER BY source, status
"""


register(QuerySpec("corpus_clean_pipeline", corpus_clean_pipeline,
                   PIPELINE_SQL,
                   "composed pipeline: exact dedup → near-dup components "
                   "→ quality filter, per-(source,status) counts"))


# ---------------------------------------------------------------------------
# exact duplicated-substring pairs via winnowed fingerprints
# ---------------------------------------------------------------------------

WINNOW_K = 50
WINNOW_W = 16


def substr_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing a verbatim ≥ 50-char substring, found via
    content-defined winnowed fingerprints (operators/winnow.py — the
    distributable stand-in for Lee et al. 2022's suffix-array
    ExactSubstr dedup). Detection is GUARANTEED for shared spans of
    ≥ k + w − 1 = 65 chars; the whole pipeline is deterministic
    (md5 + window-min), so DuckDB reproduces it bit-for-bit rather
    than brute-forcing a different definition. At sf0.01 this
    recovers exactly the planted near-dup pairs — verbatim-copy
    evidence complementing ``dedup_near_minhash``'s bag-of-shingles
    signal."""
    from kinesis_vcr_spark.operators.winnow import shared_substring_pairs

    # winnowing hashes every k-gram position — widen the single-split
    # fixture scan (A/B: 5.2 s -> 1.7 s at sf0.1)
    docs = widen_small_scan(load_table(spark, sf_dir, "documents"))
    pairs = shared_substring_pairs(
        docs, "doc_id", "text", k=WINNOW_K, w=WINNOW_W,
        max_docs_per_fp=1000,
    )
    return pairs.select(
        "id_a", "id_b", "n_shared_fp", "sample_gram"
    ).orderBy("id_a", "id_b")


WINNOW_SQL = f"""
WITH g AS (
  SELECT doc_id, p AS pos,
         md5(substr(text, CAST(p AS INT), {WINNOW_K}))
           || substr(text, CAST(p AS INT), {WINNOW_K}) AS key
  FROM documents,
       unnest(range(1, greatest(length(text) - {WINNOW_K - 1}, 1) + 1)) t(p)
), wmin AS (
  SELECT doc_id, pos,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {WINNOW_W - 1} FOLLOWING) AS fp,
         greatest(count(*) OVER (PARTITION BY doc_id)
                  - {WINNOW_W - 1}, 1) AS n_starts
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= n_starts
), capped AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs FROM fps
  ) WHERE n_docs <= 1000
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared_fp,
       substr(min(a.fp), 33) AS sample_gram
FROM capped a JOIN capped b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY id_a, id_b
"""


register(QuerySpec("substr_winnow_pairs", substr_winnow_pairs, WINNOW_SQL,
                   "winnowed-fingerprint verbatim-substring duplicate pairs "
                   "(guaranteed ≥ 65-char span detection)"))


# ---------------------------------------------------------------------------
# exact duplicate-span removal (E88, ExactSubstr dedup)
# ---------------------------------------------------------------------------

SPAN_MIN_LEN = 40


def doc_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ExactSubstr dedup (Lee et al. 2022) over the documents
    table: for every document containing a substring of ≥ 40 chars
    that occurs more than once in the corpus, the maximal-span count,
    total duplicated characters, and the length + md5 of the text
    with those spans removed. The duplicated-L-gram coverage
    construction (operators/spandedup.py) equals the suffix-array
    answer exactly, so the oracle reproduces every value — including
    the stitched clean text's md5 — bit-for-bit."""
    from kinesis_vcr_spark.operators.spandedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    docs = widen_small_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    # two consumers (stats + stitching) of one tiny spans table: cache
    # it so the gram pipeline runs once
    spans = hold(
        "doc_dup_span_stats", duplicated_spans(docs, min_len=SPAN_MIN_LEN)
    )
    # materialize NOW: the stats and stitching branches below otherwise
    # race to populate the cache inside one job and each evaluates the
    # full gram pipeline (measured 2x the query at sf0.1)
    spans.count()
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(
            F.col("span_end") - F.col("span_start") + F.lit(1)
        ).alias("dup_chars"),
    )
    cleaned = remove_duplicated_spans(
        docs, min_len=SPAN_MIN_LEN, spans=spans
    ).select(
        "doc_id",
        F.length("clean_text").alias("clean_len"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
    )
    return (
        stats.join(cleaned, "doc_id")
        .select("doc_id", "n_spans", "dup_chars", "clean_len", "clean_md5")
        .orderBy("doc_id")
    )


SPAN_SQL = f"""
WITH pos AS (
  SELECT doc_id, CAST(p AS INT) AS p,
         substr(text, CAST(p AS INT), {SPAN_MIN_LEN}) AS g
  FROM documents,
       unnest(range(1, length(text) - {SPAN_MIN_LEN - 1} + 1)) t(p)
  WHERE length(text) >= {SPAN_MIN_LEN}
), covered AS (
  SELECT doc_id, p, p + {SPAN_MIN_LEN - 1} AS e FROM (
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
         string_agg(substr(d.text, pe + 1, s - pe - 1), '' ORDER BY s)
           || coalesce(substr(any_value(d.text), CAST(max(e) AS INT) + 1),
                       '')
           AS clean_text
  FROM pieces p JOIN documents d USING (doc_id)
  GROUP BY p.doc_id
)
SELECT doc_id, n_spans, dup_chars,
       length(clean_text) AS clean_len, md5(clean_text) AS clean_md5
FROM stitched ORDER BY doc_id
"""


register(QuerySpec("doc_dup_span_stats", doc_dup_span_stats, SPAN_SQL,
                   "exact duplicate-span removal (ExactSubstr): maximal "
                   "spans >= 40 chars occurring twice anywhere, removal "
                   "md5 oracle-checked bit-for-bit"))


def span_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest shape of exact span dedup (the gram-count index
    of operators/spandedup.py): index the corpus (doc_id % 4 != 0),
    append the "new batch" (doc_id % 4 == 0), probe — the batch's
    maximal duplicated spans against the union, its own rows included.
    Prefix semantics make the oracle trivial and exact: the same
    duplicated-L-gram pipeline over ALL documents, restricted to batch
    docs, because index(old) + append(batch) holds exactly the union's
    capped gram counts."""
    import os
    import tempfile

    from kinesis_vcr_spark.operators.spandedup import (
        append_gram_index,
        span_probe_index,
    )

    docs = widen_small_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    old = docs.where(F.col("doc_id") % IDX_NEW_MOD != 0)
    new = docs.where(F.col("doc_id") % IDX_NEW_MOD == 0)
    # deterministic per-sf path, overwritten per run (the query gate
    # re-exercises the index BUILD as well as the probe, like its
    # near-dup twin dedup_index_incremental)
    path = os.path.join(
        tempfile.gettempdir(),
        f"kvs_gramindex_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    append_gram_index(
        old, path, min_len=SPAN_MIN_LEN, ingest_label="_base"
    )
    append_gram_index(
        new, path, min_len=SPAN_MIN_LEN, ingest_label="batch"
    )
    spans = span_probe_index(new, path, min_len=SPAN_MIN_LEN)
    return spans.select("doc_id", "span_start", "span_end").orderBy(
        "doc_id", "span_start"
    )


SPAN_IDX_SQL = f"""
WITH pos AS (
  SELECT doc_id, CAST(p AS INT) AS p,
         substr(text, CAST(p AS INT), {SPAN_MIN_LEN}) AS g
  FROM documents,
       unnest(range(1, length(text) - {SPAN_MIN_LEN - 1} + 1)) t(p)
  WHERE length(text) >= {SPAN_MIN_LEN}
), covered AS (
  SELECT doc_id, p, p + {SPAN_MIN_LEN - 1} AS e FROM (
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
)
SELECT doc_id, CAST(min(p) AS INT) AS span_start,
       CAST(max(e) AS INT) AS span_end
FROM islands WHERE doc_id % {IDX_NEW_MOD} = 0
GROUP BY doc_id, isl
ORDER BY doc_id, span_start
"""


register(QuerySpec("span_index_incremental", span_index_incremental,
                   SPAN_IDX_SQL,
                   "incremental exact span dedup: gram-count index over "
                   "the corpus, batch appended then probed; spans == "
                   "union-corpus spans restricted to the batch"))


def dedup_components_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-twin exactness proof for the verification-free LSH
    component path (operators/dedup.py ``lsh_band_components`` — the
    Θ(n·bands) posture for boilerplate-saturated corpora where the
    verified pair path goes super-linear, BASELINE r10 addendum 2):
    every 10th document gets an identical-TEXT twin at ``doc_id +
    1e7``; identical text ⇒ identical signature ⇒ the twin shares all
    bands with its original, lands in the original's component with
    certainty, and — the original always carrying the smaller id —
    can never be its own root. Output: the planted (original, twin)
    relation read back off the component labels; exact SQL even
    though the searcher is verification-free."""
    from kinesis_vcr_spark.operators.dedup import lsh_band_components

    docs = load_table(spark, sf_dir, "documents")
    twins = docs.where(F.col("doc_id") % PLANT_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(SIMHASH_PLANT_OFFSET)
    )
    comp = lsh_band_components(
        docs.unionByName(twins), "doc_id", "text"
    )
    return (
        comp.where(
            (F.col("node") >= F.lit(SIMHASH_PLANT_OFFSET))
            & (F.col("node") != F.col("component"))
        )
        .select(
            (F.col("node") - F.lit(SIMHASH_PLANT_OFFSET)).alias("id_a"),
            F.col("node").alias("id_b"),
        )
        .orderBy("id_a")
    )


register(QuerySpec("dedup_components_lsh_planted",
                   dedup_components_lsh_planted,
                   SIMHASH_PLANTED_SQL,
                   "verification-free LSH band components "
                   "(anchor edges, no pair table): planted-twin "
                   "recall, exact oracle"))


# ---------------------------------------------------------------------------
# quality-weighted dedup winner (E104, r12)
# ---------------------------------------------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production winner selection over the near-dup groups: per
    connected component of the MinHash pair graph, keep the member
    with the HIGHEST quality score (ties: smallest doc_id) — the
    RefinedWeb/CCNet winner rule, vs the min-id determinism baseline
    the pipeline uses. Output = one row per multi-member group:
    (component, group_size, winner_id, winner_q)."""
    from kinesis_vcr_spark.functions.text import quality_score
    from kinesis_vcr_spark.operators.components import connected_components
    from kinesis_vcr_spark.operators.dedup import (
        keep_best_per_component,
        near_dup_pairs_minhash,
    )

    # persist the 3-column projection: its lineage (scan + the
    # quality expression) feeds AT LEAST four consumers — the shingle
    # sides a/b inside the LSH verify join, the component label join,
    # and the winner join — the exact multiplicative-recompute trap
    # measured at 2.5x on the manifold re-rank row (BASELINE r12
    # addendum 8; r12 verdict What's-wrong item 1). sf1 re-pin in
    # BASELINE r13 addenda.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", quality_score(F.col("text")).alias("q")
    )
    docs = hold("dedup_keep_best", docs)
    pairs = near_dup_pairs_minhash(
        docs, "doc_id", "text", shingle_size=3, num_hashes=64, bands=16,
        threshold=J_THRESHOLD,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("group_size"))
    winners = keep_best_per_component(
        docs.select("doc_id", "q"), comp, "doc_id", "q"
    )
    return (
        winners.join(sizes, "component")  # multi-member groups only
        .select(
            "component",
            "group_size",
            F.col("doc_id").alias("winner_id"),
            F.col("q").alias("winner_q"),
        )
        .orderBy("component")
    )


from kinesis_vcr_spark.queries.textstats import _EN as _EN_STOPWORDS  # noqa: E402

KEEP_BEST_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
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
           - len(list_intersect(a.shingles, b.shingles))) >= {J_THRESHOLD}
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, min(lbl) AS component FROM reach GROUP BY node
), q AS (
  SELECT doc_id,
         round((least(len(string_split(text, ' ')) / 100.0, 1.0)
            + CAST(len(list_filter(string_split(text, ' '),
                  x -> list_contains([{_EN_STOPWORDS}], x))) AS DOUBLE)
              / len(string_split(text, ' '))
            + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' '))
            + CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                   AS DOUBLE) / length(text)
           ) / 4.0, 6) AS q
  FROM documents
), ranked AS (
  SELECT c.component, c.node, q.q,
         count(*) OVER (PARTITION BY c.component) AS group_size,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.q DESC, c.node) AS rn
  FROM comp c JOIN q ON q.doc_id = c.node
)
SELECT component, group_size, node AS winner_id, q AS winner_q
FROM ranked WHERE rn = 1 ORDER BY component
"""


register(QuerySpec(
    "dedup_keep_best", dedup_keep_best, KEEP_BEST_SQL,
    "quality-weighted near-dup winner per component (argmax quality, "
    "min-id ties) — the production keep-the-best-copy rule",
))


# ---------------------------------------------------------------------------
# fuzzy benchmark decontamination (E107, r12)
# ---------------------------------------------------------------------------

DECONTAM_FUZZY_MOD = 50  # every 50th doc plays the benchmark set


#: planted leaked copies get doc_id + (max(doc_id) + 1) and a light
#: edit — the offset is DERIVED from the fixture's id space, not a
#: fixed constant, so leaked ids can never collide with real ids at
#: any sf (sf100's ~3.75 M real docs would have overrun a fixed 1 M)
DECONTAM_FUZZY_EDIT = " plus a small trailing edit"


def decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination: training docs that are NEAR-duplicates
    (exact Jaccard >= threshold via bipartite MinHash-LSH candidates)
    of any benchmark doc — catches the lightly-edited eval copies the
    exact n-gram row cannot. Benchmark = every 50th doc; corpus = the
    rest PLUS a planted lightly-edited copy of every benchmark doc
    (the leak fuzzy decontam exists to catch: J ≈ 0.97, no longer an
    exact duplicate), so the answer mixes planted and organic hits and
    the oracle recomputes both brute-force."""
    from kinesis_vcr_spark.operators.decontam import fuzzy_contamination

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # bounded scalar (one column max, answered from parquet stats):
    # the planted-leak id offset must clear the fixture's id space
    offset = docs.agg(F.max("doc_id")).first()[0] + 1
    bench = docs.where(F.pmod("doc_id", F.lit(DECONTAM_FUZZY_MOD)) == 0)
    leaked = bench.select(
        (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(DECONTAM_FUZZY_EDIT)).alias("text"),
    )
    # NOT persisted (r13, measured): the bipartite machine reads this
    # lineage from ~6 plan branches, but every branch is pure
    # whole-stage-codegen shingle work over a pruned 2-column scan —
    # persisting it measured 3.35 -> 8.3 s med at sf0.1 (the
    # InMemoryRelation round-trip costs more than the re-scans).
    # The persist-pays trap needs EXPENSIVE lineage (Python UDF
    # stages, shuffles) feeding many consumers — BASELINE r13.
    corpus = docs.where(
        F.pmod("doc_id", F.lit(DECONTAM_FUZZY_MOD)) != 0
    ).unionByName(leaked)
    return fuzzy_contamination(
        corpus, bench, "doc_id", "text",
        shingle_size=3, threshold=J_THRESHOLD,
    ).orderBy("doc_id")


DECONTAM_FUZZY_SQL = f"""
WITH off AS (
  SELECT max(doc_id) + 1 AS o FROM documents
), corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {DECONTAM_FUZZY_MOD} != 0
  UNION ALL
  SELECT d.doc_id + off.o,
         text || '{DECONTAM_FUZZY_EDIT}'
  FROM documents d, off WHERE d.doc_id % {DECONTAM_FUZZY_MOD} = 0
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM (SELECT doc_id, text FROM corpus
        UNION ALL
        SELECT doc_id, text FROM documents
        WHERE doc_id % {DECONTAM_FUZZY_MOD} = 0)
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingles
  FROM toks
), hits AS (
  SELECT c.doc_id,
         CAST(len(list_intersect(c.shingles, b.shingles)) AS DOUBLE)
         / (len(c.shingles) + len(b.shingles)
            - len(list_intersect(c.shingles, b.shingles))) AS j
  FROM sh c JOIN sh b
    ON (c.doc_id % {DECONTAM_FUZZY_MOD} != 0
        OR c.doc_id >= (SELECT o FROM off))
   AND b.doc_id % {DECONTAM_FUZZY_MOD} = 0
   AND b.doc_id < (SELECT o FROM off)
  WHERE CAST(len(list_intersect(c.shingles, b.shingles)) AS DOUBLE)
        / (len(c.shingles) + len(b.shingles)
           - len(list_intersect(c.shingles, b.shingles))) >= {J_THRESHOLD}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       round(max(j), 6) AS max_jaccard
FROM hits GROUP BY doc_id ORDER BY doc_id
"""


def decontam_fuzzy_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production KEEP-verb over the same planted-leak corpus as
    ``decontam_fuzzy`` (r13, VERDICT r12 item 4):
    ``decontaminate_fuzzy`` anti-joins the flagged report off the
    corpus, and the row summarizes the SURVIVORS as exact per-bucket
    counts (doc_id mod 10) — every planted leak must be gone, every
    organic near-dup of a benchmark doc too, everything else intact;
    the oracle recomputes the anti-join brute-force."""
    from kinesis_vcr_spark.operators.decontam import decontaminate_fuzzy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    offset = docs.agg(F.max("doc_id")).first()[0] + 1
    bench = docs.where(F.pmod("doc_id", F.lit(DECONTAM_FUZZY_MOD)) == 0)
    leaked = bench.select(
        (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(DECONTAM_FUZZY_EDIT)).alias("text"),
    )
    # NOT persisted — same measured finding as decontam_fuzzy (r13):
    # codegen-only branches re-scan cheaper than an InMemoryRelation
    # barrier
    corpus = docs.where(
        F.pmod("doc_id", F.lit(DECONTAM_FUZZY_MOD)) != 0
    ).unionByName(leaked)
    kept = decontaminate_fuzzy(
        corpus, bench, "doc_id", "text",
        shingle_size=3, threshold=J_THRESHOLD,
    )
    return (
        kept.groupBy(F.pmod("doc_id", F.lit(10)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("bucket")
    )


DECONTAM_FUZZY_KEPT_SQL = f"""
WITH off AS (
  SELECT max(doc_id) + 1 AS o FROM documents
), corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {DECONTAM_FUZZY_MOD} != 0
  UNION ALL
  SELECT d.doc_id + off.o,
         text || '{DECONTAM_FUZZY_EDIT}'
  FROM documents d, off WHERE d.doc_id % {DECONTAM_FUZZY_MOD} = 0
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
             i -> array_to_string(list_slice(string_split(text, ' '),
                                             i, i + 2), ' '))) AS shingles
  FROM (SELECT doc_id, text FROM corpus
        UNION ALL
        SELECT doc_id, text FROM documents
        WHERE doc_id % {DECONTAM_FUZZY_MOD} = 0)
), flagged AS (
  SELECT DISTINCT c.doc_id
  FROM sh c JOIN sh b
    ON (c.doc_id % {DECONTAM_FUZZY_MOD} != 0
        OR c.doc_id >= (SELECT o FROM off))
   AND b.doc_id % {DECONTAM_FUZZY_MOD} = 0
   AND b.doc_id < (SELECT o FROM off)
  WHERE CAST(len(list_intersect(c.shingles, b.shingles)) AS DOUBLE)
        / (len(c.shingles) + len(b.shingles)
           - len(list_intersect(c.shingles, b.shingles))) >= {J_THRESHOLD}
)
SELECT doc_id % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM corpus
WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
GROUP BY bucket ORDER BY bucket
"""


register(QuerySpec(
    "decontam_fuzzy_kept", decontam_fuzzy_kept, DECONTAM_FUZZY_KEPT_SQL,
    "fuzzy decontamination KEEP-verb: anti-join the flagged report "
    "off the corpus; survivors summarized as exact per-bucket counts",
))


register(QuerySpec(
    "decontam_fuzzy", decontam_fuzzy, DECONTAM_FUZZY_SQL,
    "fuzzy benchmark decontamination: bipartite MinHash-LSH candidates "
    "+ exact-Jaccard verification against an eval set (catches edited "
    "copies exact n-gram overlap misses)",
))
