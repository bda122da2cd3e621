"""Exact duplicate-span detection and removal (ExactSubstr dedup).

The exact counterpart of the winnowing operator (operators/winnow.py):
where winnowing gives the PAIR-level verbatim-duplication signal, this
gives the SPAN-level one — for every document, the maximal character
ranges that lie inside a substring of length ≥ ``min_len`` occurring
more than once in the corpus, and the document text with those ranges
cut out. This is the removal step of Lee et al. 2022 ("Deduplicating
Training Data Makes Language Models Better", ExactSubstr): they build
a corpus-wide suffix array, a global sorted structure that fights
Spark's partitioned model; this operator reaches the IDENTICAL
coverage set with nothing but linear scans, one aggregation, and a
per-document gaps-and-islands merge.

Why it is exact: a position x lies in some duplicated substring S with
|S| ≥ L iff x is covered by a duplicated L-gram. (⇐ a duplicated
L-gram IS a duplicated substring of length L. ⇒ inside an occurrence
of S, every position is covered by at least one of S's |S|−L+1
L-windows — |S| ≥ L makes the window-start interval
[max(0, i−L+1), min(i, |S|−L)] non-empty for every offset i — and a
window of a twice-occurring string occurs twice itself.) So the union
of duplicated-L-gram extents, merged per document, equals the union of
all duplicated substrings of length ≥ L: the suffix-array answer,
without the suffix array. "Duplicated" counts every occurrence —
cross-document AND within-document repeats (a doc quoting itself is
still memorizable text).

Spark shape (all JVM, zero Python, no pair join anywhere):

1. ``posexplode`` → one row per char position with the **md5 digest**
   of its L-gram (16 bytes cross the wire, never the gram text — the
   same ticket discipline as exact dedup's ``operators/dedup.py``
   digest keys; 128-bit collisions are ~n²/2¹²⁹, i.e. absent at any
   corpus size this engine targets, so equality of digests is
   equality of grams and results stay bit-identical to raw-gram
   keying — measured at sf100 this halves the dominant exchange:
   40-char grams are 40+ bytes per position where the digest is 16);
2. ``count(*) over (partition by digest) >= 2`` tags the positions
   of duplicated grams in one exchange of the position rows — the gram
   explode runs once, nothing is persisted or broadcast (see
   :func:`duplicated_spans` for the measured trade);
3. per-doc gaps-and-islands: running max of span ends flags island
   starts, a running sum numbers them, one groupBy emits
   ``(span_start, span_end)`` — the classic SQL idiom, identical in
   the DuckDB oracle;
4. removal re-joins spans to the text and stitches the kept pieces
   with ``lag`` + sorted ``array_join`` — no per-row Python.

100 TB posture: cost is Θ(total characters) rows through two
hash exchanges (digest tag, doc islands) — linear, spillable,
skew-tolerant; there is no candidate-pair blowup to cap because no
pairs are ever formed. The exchanged payload is a fixed 28 bytes
per position (16-byte digest + id + offset) regardless of L — NOT
``xxhash64`` (8 bytes but ~n²/2⁶⁴ collisions: guaranteed false
dup-marks at 100 TB gram counts), and NOT the raw gram (L bytes of
high-entropy text that lz4 cannot reclaim; the digest swap is what
brought the sf100 batch run inside this rig's disk budget).

Reference anchor: the reference engine has no substring-dedup surface
(SURVEY.md §2.5a E-series extension); semantics follow the public
ExactSubstr description, re-expressed as dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

#: default minimal duplicated-span length, in characters. Lee et al.
#: use 50 BPE tokens; 30 chars keeps the synthetic fixtures non-empty
#: while staying far above chance 30-gram collisions in real text.
DEFAULT_MIN_SPAN = 30

#: :func:`span_probe_index` broadcasts the batch's grams and its dup set
#: only while the batch holds at most this many positions (the same
#: bounded-broadcast discipline as cacheutil.BROADCAST_ROWS_MAX); over
#: the gate both joins fall back to shuffled joins instead of OOMing on
#: an unbounded broadcast. Sizing: 24 M × 16 B ≈ 384 MB serialized,
#: ~3-4× that as the in-heap build map — needs ≥4 GB executors, the
#: repo's working floor.
DUP_BROADCAST_MAX = 24_000_000


def _require_binary_grams(stored: DataFrame, index_path: str) -> None:
    """Fail loudly on a pre-digest-format index (ADVICE r09): the gram
    key changed from the raw L-gram string to its 16-byte md5 digest,
    and a string-keyed artifact joined against binary batch digests
    would silently match nothing — every probe would report zero
    duplicated spans instead of erroring."""
    if not isinstance(stored.schema["gram"].dataType, BinaryType):
        raise ValueError(
            f"gram index at {index_path} stores '{stored.schema['gram'].dataType.simpleString()}' gram keys; "
            "this engine's format keys grams by 16-byte md5 digest "
            "(binary). Rebuild the index with append_gram_index — "
            "probing the old string-keyed format would silently "
            "return no duplicated spans."
        )


def _gram_positions(
    df: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """One row per (doc, 1-based position) with the 16-byte md5 digest
    of its raw L-gram in ``gram`` — the gram text itself never leaves
    the projection (module docstring: digest-key discipline; digest
    equality IS gram equality at 128 bits). Documents shorter than
    ``min_len`` contribute nothing (they cannot contain a span ≥ L)."""
    n_pos = F.length(text_col) - F.lit(min_len - 1)
    return (
        df.where(F.length(text_col) >= min_len)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), n_pos),
                    lambda i: F.unhex(
                        F.md5(
                            F.substring(F.col(text_col), i, min_len).cast(
                                "binary"
                            )
                        )
                    ),
                )
            ).alias("pos0", "gram"),
        )
        .select(id_col, (F.col("pos0") + F.lit(1)).alias("p"), "gram")
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_SPAN,
) -> DataFrame:
    """Maximal duplicated spans per document:
    ``(id_col, span_start, span_end)``, 1-based inclusive character
    ranges — exactly the union of all substrings of length ≥
    ``min_len`` occurring more than once in the corpus (see module
    docstring for the equivalence proof).

    The position rows are exchanged ONCE on the gram digest and the dup
    test is ``count(*) over (partition by gram) >= 2``: the gram explode
    (posexplode + md5 per position, this operator's CPU-heavy part) runs
    exactly once, with no persisted dup set and no broadcast build.
    Shuffle bytes: the one exchange carries (id, p, digest) ≈ 28
    B/position — measured at sf100 ~1.25× the exchange of a digest-only
    aggregation joined back by broadcast, for half that shape's
    gram-compute CPU (r15). Skew: a viral gram's positions land in one
    window group, a spillable WindowExec buffer (dup-saturated case
    pinned in tests/test_spandedup.py)."""
    grams = _gram_positions(df, id_col, text_col, min_len)
    w = Window.partitionBy("gram")
    covered = (
        grams.withColumn("__n", F.count(F.lit(1)).over(w))
        .where(F.col("__n") >= 2)
        .select(id_col, "p")
    )
    return _merge_covered_to_spans(covered, id_col, min_len)


def _merge_covered_to_spans(
    covered: DataFrame, id_col: str, min_len: int
) -> DataFrame:
    """Gaps-and-islands merge of covered gram starts ``(id_col, p)``
    into maximal ``(id_col, span_start, span_end)`` extents."""
    covered = covered.select(
        id_col, "p", (F.col("p") + F.lit(min_len - 1)).alias("e")
    )
    w = Window.partitionBy(id_col).orderBy("p")
    run_max_prev = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # a position starts a new island iff it leaves a gap of ≥ 1
    # uncovered char after everything before it (adjacent extents
    # merge: coverage is what we are unioning)
    flagged = covered.withColumn(
        "__new",
        F.when(
            run_max_prev.isNull() | (F.col("p") > run_max_prev + 1), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "__isl",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("p").alias("span_start"),
            F.max("e").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_SPAN,
    clean_col: str = "clean_text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Every input row with ``clean_col`` added: the text with all
    duplicated spans cut out (documents without spans pass through
    unchanged). Cutting is per-document stitching of the kept gaps —
    ``lag(span_end)`` bounds each kept piece, a sorted ``array_join``
    concatenates them, the tail after the last span closes the text.

    Pass ``spans`` (a — possibly persisted — :func:`duplicated_spans`
    result) when the caller also consumes the spans themselves, so the
    gram pipeline runs once, not once per consumer."""
    if spans is None:
        spans = duplicated_spans(df, id_col, text_col, min_len)
    wl = Window.partitionBy(id_col).orderBy("span_start")
    pieces = (
        spans.withColumn(
            "__prev_e", F.coalesce(F.lag("span_end").over(wl), F.lit(0))
        )
        .join(df.select(id_col, text_col), id_col)
        .select(
            id_col,
            "span_start",
            "span_end",
            F.col(text_col)
            .substr(
                F.col("__prev_e") + F.lit(1),
                F.col("span_start") - F.col("__prev_e") - F.lit(1),
            )
            .alias("__piece"),
        )
    )
    stitched = pieces.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("span_start", "__piece"))
                ),
                lambda s: s["__piece"],
            ),
            "",
        ).alias("__head"),
        F.max("span_end").alias("__last_e"),
    )
    return (
        df.join(stitched, id_col, "left")
        .withColumn(
            clean_col,
            F.when(F.col("__last_e").isNull(), F.col(text_col)).otherwise(
                F.concat(
                    F.col("__head"),
                    F.col(text_col).substr(
                        F.col("__last_e") + F.lit(1),
                        F.greatest(
                            F.length(text_col) - F.col("__last_e"),
                            F.lit(0),
                        ),
                    ),
                )
            ),
        )
        .drop("__head", "__last_e")
    )


# ---------------------------------------------------------------------------
# persisted gram-count index (incremental / streaming ExactSubstr)
# ---------------------------------------------------------------------------
#
# The daily-ingest shape of span dedup, mirroring the near-dup band
# index (operators/dedup_index.py) and the IVF lists (operators/
# ivf.py): the corpus's L-gram occurrence counts are persisted ONCE as
# ``{index_path}/grams/ingest=<label>`` scopes; a new
# batch appends its own aggregated counts (O(batch) work) and a probe
# computes the batch's duplicated spans against the UNION of
# everything stored.
#
# The stored key is the gram's 16-byte md5 digest (same discipline as
# the batch operator — fixed-width keys, and the probe's stored-side
# scan reads 16 bytes per gram instead of L).
# The stored value per (scope, gram) is ``least(count, 2)`` — dup
# detection only needs "seen once" vs "seen twice+", so counters never
# grow and a viral boilerplate gram costs the same 1 row per scope as
# a unique one. Summing the capped per-scope counts across scopes is
# exact for the >= 2 test: two sightings in one scope give 2, one
# sighting in each of two scopes gives 1 + 1.
#
# The stored side of a probe is one exchange-free scan of the flat
# scopes: a day-sized batch carries more distinct grams than any
# directory layout has partitions, so exact membership against the
# stored digests is a linear pass whatever the layout (BASELINE r10
# addendum 1). Its at-scale budget is the index's digest bytes
# (measured decades in BASELINE.md).
#
# PREFIX SEMANTICS, exactly like streaming ANN ingest: a probe answers
# "which parts of THIS batch are duplicated against everything seen so
# far (this batch included)". A new batch can also retro-dirty an OLD
# document (turning one of its grams from unique to duplicated); the
# index carries the information to recompute any document's spans at
# any time, but emitted batch results are not retroactively patched —
# re-probe affected docs offline if the use case needs it.


def append_gram_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_SPAN,
    ingest_label: str = "_base",
) -> None:
    """Aggregate the batch's L-gram counts (capped at 2) and write them
    as their own ``ingest`` scope — overwrite-idempotent, so an
    orchestrator replay of the same labeled batch replaces its rows
    instead of double-counting them. One exchange: a combining
    aggregation on the gram digest (map-side partials absorb
    viral-gram skew BEFORE anything crosses the wire), scope-sized."""
    grams = _gram_positions(df, id_col, text_col, min_len)
    grams.groupBy("gram").agg(
        F.least(F.count(F.lit(1)), F.lit(2)).cast("int").alias("n")
    ).write.mode("overwrite").parquet(
        f"{index_path}/grams/ingest={ingest_label}"
    )


def span_probe_index(
    batch_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = DEFAULT_MIN_SPAN,
) -> DataFrame:
    """Duplicated spans of the BATCH documents against the accumulated
    index (which must already include the batch's own scope — the
    append-then-probe discipline of streaming/annstream.py): positions
    whose gram has a summed stored count >= 2, merged per document.
    With the index holding exactly one corpus, this equals
    :func:`duplicated_spans` over that corpus restricted to the batch's
    documents (test-pinned).

    Plan shape (one gate-count job + one linear pipeline; every
    shuffle and broadcast is BATCH-sized):

    - the stored side is one exchange-free pass over the gram scopes,
      filtered by a broadcast semi-join on the batch's raw position
      grams, then aggregated to batch-sized dup rows;
    - the dup set is bounded by the BATCH's digests, so the
      position-tagging join broadcasts it under the same
      position-count gate.
      Nothing is persisted and no distinct is computed — the fastest
      measured variant at sf0.1-sf1 (BASELINE r10 addendum).
    """
    spark = batch_df.sparkSession
    # NOTHING here is persisted (ADVICE r09): the position pipeline is
    # recomputed by its three consumers (gate count, semi broadcast,
    # covered tagging) — posexplode+md5 over a day batch is cheaper
    # than the cache round-trip it would replace (measured at
    # sf0.1-sf1: the no-persist shape is the fastest variant), and a
    # long-lived session accumulates zero cached relations per probe.
    grams = _gram_positions(batch_df, id_col, text_col, min_len)
    n_positions = grams.count()  # the gate's one extra job
    stored = spark.read.parquet(f"{index_path}/grams").drop("ingest")
    _require_binary_grams(stored, index_path)
    # count only grams present in the batch: the semi-join prunes the
    # aggregation's input to batch-relevant grams. The batch side is
    # broadcast explicitly — day-sized by this probe's O(batch)
    # contract — because leaving it to AQE materializes the STORED
    # side's exchange first (AQE builds both shuffle query stages
    # before it can downgrade the join to broadcast), which at sf100
    # measurably shipped the whole 1.2e9-row index through a ~19 GB
    # shuffle that the broadcast plan never creates: the index scan
    # streams into the semi-join with no exchange at any index size.
    # The broadcast feeds the RAW position grams, not a distinct: the
    # broadcast hash relation dedups keys as it builds, so a distinct's
    # exchange+collect (measured ~0.8 s of the probe) is pure
    # overhead. Both broadcasts are GATED on the position count (a
    # conservative upper bound on the digest count — and on the dup
    # set, which is a subset of the batch's digests; ADVICE r09): a
    # caller that probes a corpus-sized "batch" degrades to shuffled
    # joins instead of OOMing the driver on an unbounded broadcast.
    in_gate = n_positions <= DUP_BROADCAST_MAX
    batch_grams = grams.select("gram")
    dup = (
        stored.join(
            F.broadcast(batch_grams) if in_gate else batch_grams,
            "gram",
            "left_semi",
        )
        .groupBy("gram")
        .agg(F.sum("n").alias("__total"))
        .where(F.col("__total") >= 2)
        .select("gram")
    )
    # explicit broadcast of the (batch-bounded) dup set keeps the
    # position table un-exchanged AND avoids AQE's stage barrier —
    # letting AQE decide costs a materialized batch-side exchange
    # before the downgrade, ~0.8 s per probe at sf0.1
    covered = grams.join(
        F.broadcast(dup) if in_gate else dup, "gram"
    ).select(id_col, "p")
    return _merge_covered_to_spans(covered, id_col, min_len)


def compact_gram_index(spark, index_path: str) -> None:
    """Merge every ingest scope of the gram index into one
    ``ingest=_compacted`` scope with per-gram totals re-capped at 2.

    Semantic compaction, not content-exact: the ONLY question any read
    path asks of this index is "has this gram been seen >= 2 times"
    (:func:`span_probe_index` filters ``sum(n) >= 2``; per-scope ``n``
    is already capped at 2 by :func:`append_gram_index`), so
    ``least(sum(n), 2)`` preserves every probe answer — including after
    FUTURE appends, since the compacted row still contributes its
    saturated 2 to any later sum — while a gram ingested across k
    scopes collapses from k rows to one. This is the probe-cost lever
    the module contract names: the probe's stored side is one pass
    over the accumulated gram rows, and a long-lived daily stream
    multiplies rows per gram by its scope count until compacted.

    Swap discipline, crash window and self-healing recovery are
    :func:`kinesis_vcr_spark.operators.compaction.compact_scoped_state`'s
    (rename-based, ``_SUCCESS``-gated, repair-on-next-invocation); run
    against a drained or paused ingest, same as every other scoped
    state in this repo.
    """
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    stored = spark.read.parquet(f"{index_path}/grams")
    _require_binary_grams(stored, index_path)
    compact_scoped_state(
        spark,
        f"{index_path}/grams",
        aggregate_fn=lambda df: df.groupBy("gram").agg(
            F.least(F.sum("n"), F.lit(2)).cast("int").alias("n")
        ),
    )
