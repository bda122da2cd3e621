"""Winnowed-fingerprint duplicate-substring detection.

Exact long-substring duplication is the dedup signal MinHash can't
give: two documents that share a verbatim 200-char span (quoted
boilerplate, licence text, copied paragraphs) may sit far apart in
bag-of-shingles Jaccard space yet still leak memorizable training
text (Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better" builds a suffix array for this; a suffix array is a
global sorted structure that fights Spark's partitioned model).

This operator gets the same *pair-level* signal with local, content-
defined fingerprinting — the winnowing scheme of Schleimer/Wilkerson/
Aiken 2003 (MOSS): hash every ``k``-char gram, slide a ``w``-gram
window, keep each window's minimum hash. Selection depends only on
window *content*, so any substring shared by two documents with
length ≥ ``w + k − 1`` is guaranteed to contribute at least one
identical fingerprint to both — no randomness, no tuning-dependent
recall cliff. Expected fingerprint density is 2/(w+1) of positions.

Spark shape (all JVM, zero Python):

1. ``sequence``/``transform`` explode → one row per char position
   (narrow 1→N, no shuffle);
2. fingerprint = ``min(md5(gram) || gram)`` over a per-doc
   ``rowsBetween(0, w−1)`` window — the hex-prefixed string makes
   lexicographic min == numeric hash min AND carries the winning gram
   so no second lookup join is needed;
3. ``distinct (doc, fingerprint)`` (map-side partial dedup);
4. hot-fingerprint cap (corpus-wide boilerplate guard — same design
   as the LSH hot-band cap in ``operators/dedup.py``): a fingerprint
   appearing in > ``cap`` docs is dropped before the self-join so one
   viral licence header can't go quadratic;
5. equi-self-join on the fingerprint → per-pair shared-fingerprint
   count + lexicographically-smallest shared gram as evidence.

Every step is deterministic and engine-portable (md5 + substring +
window-min), so DuckDB reproduces the output bit-for-bit — the driver
gets a full value-hash row, not a rows-only check.

100 TB posture: the explode is |text| rows/doc but never leaves the
stage (projection before the window shuffle carries only doc_id, pos,
and the 16+k-byte key); the only exchanges are the per-doc window
hash (uniform on doc_id) and the fingerprint equi-join (capped).
A pathological single-doc
skew (one 1 GB document) would pin one task in the window stage; at
that scale chunk documents upstream (``pack_training_sequences``
handles re-chunking) before winnowing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    w: int = 16,
) -> DataFrame:
    """Distinct content-defined fingerprints per document.

    Returns ``(id_col, fp)`` where ``fp`` is the window-min key
    ``md5_hex || gram``. Documents shorter than ``k`` chars emit their whole text
    as one fingerprint (mirrors the whole-text-shingle convention of
    the other dedup operators — no empty fingerprint sets).
    """
    n_pos = F.greatest(F.length(text_col) - F.lit(k - 1), F.lit(1))
    grams = df.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_pos),
                lambda i: F.substring(F.col(text_col), i, k),
            )
        ).alias("pos0", "gram"),
    ).select(
        id_col,
        # 1-based positions, mirroring SQL substr indexing in the oracle
        (F.col("pos0") + F.lit(1)).alias("pos"),
        "gram",
    )
    key = F.concat(F.md5(F.col("gram")), F.col("gram"))
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    # valid window starts only: pos ≤ n_pos − w + 1 (shrunken tail
    # windows would select position-dependent, non-content-defined
    # minima); short docs (n_pos < w) keep their pos-1 full-range min.
    n_starts = F.greatest(F.count("*").over(Window.partitionBy(id_col)) - F.lit(w - 1), F.lit(1))
    return (
        grams.select(
            id_col,
            F.col("pos"),
            F.min(key).over(win).alias("fp"),
            n_starts.alias("n_starts"),
        )
        .where(F.col("pos") <= F.col("n_starts"))
        .select(id_col, "fp")
        .distinct()
    )


def shared_substring_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    w: int = 16,
    max_docs_per_fp: int = 1000,
) -> DataFrame:
    """Document pairs sharing ≥ 1 winnowed fingerprint — i.e. strong
    evidence of a verbatim common substring of length ≥ k (guaranteed
    detection when the shared span reaches ``w + k − 1``).

    Output: ``id_a, id_b, n_shared_fp, sample_gram`` where
    ``sample_gram`` is the smallest shared gram (an actual common
    substring of both texts, modulo md5 collision — 128-bit, ignored).
    """
    from kinesis_vcr_spark.operators.dedup import cap_group_size

    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w)
    # boilerplate guard: drop corpus-viral fingerprints pre-join
    capped = cap_group_size(fps, ["fp"], max_docs_per_fp)
    a = capped.select(F.col(id_col).alias("id_a"), "fp")
    b = capped.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_shared_fp"),
            # the 32 hex digits of md5 prefix every key
            F.substring(F.min("fp"), 33, 10_000).alias("sample_gram"),
        )
    )
