"""Sequence packing — assemble documents into fixed-capacity training
windows (context-length bins), the last step of an LLM data pipeline
before tokenized examples are written.

GPT-style concatenate-then-split, deterministic and
partition-independent: documents are laid out in a deterministic order
inside ``num_streams`` independent streams; the token stream is cut
every ``capacity`` tokens.  A document belongs to the bin where its
span *starts* (it may straddle into the next bin — exactly what real
pipelines do, the straddled tail becomes the next example's head).
Pure Catalyst: one window cumulative sum per stream, no Python — and
SQL-expressible, so the DuckDB oracle checks it end-to-end.

Scale posture: streams are hash-of-id buckets, so a 100 TB corpus packs
as ``num_streams`` independent, evenly-sized sequential problems — set
``num_streams`` ≳ executor-core count and the window stage is
embarrassingly parallel with bounded per-task state.  One shuffle on
the stream key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_stream(df: DataFrame, id_col: str, num_streams: int) -> DataFrame:
    """Deterministic stream assignment: ``pmod(id, num_streams)`` — a
    stable, engine-portable bucket (the id is already uniform in the
    fixture; for clustered ids swap in the md5-ticket bucket from
    :mod:`operators.sampling`)."""
    return df.withColumn("stream", F.pmod(F.col(id_col), F.lit(num_streams)).cast("int"))


def pack_chunk(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    capacity: int,
    num_streams: int = 8,
) -> DataFrame:
    """Concatenate-then-split packing.  Adds ``stream``, ``start_tok``
    (the document's offset in its stream's token tape) and ``bin_id``
    (= floor(start_tok / capacity)).  One window cumsum per stream."""
    w = (
        Window.partitionBy("stream")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_stream(df, id_col, num_streams)
        .withColumn("start_tok", F.sum(tokens_col).over(w) - F.col(tokens_col))
        .withColumn(
            "bin_id", F.floor(F.col("start_tok") / F.lit(capacity)).cast("long")
        )
    )


def bin_stats(packed: DataFrame, tokens_col: str) -> DataFrame:
    """Per-(stream, bin) audit: document count, tokens starting in the
    bin, and the id span — the frame a packing-quality dashboard
    reads.  Map-side-combinable aggregate on the (stream, bin) key."""
    return packed.groupBy("stream", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(tokens_col).alias("n_tokens"),
        F.min(packed.columns[0]).alias("first_id"),
        F.max(packed.columns[0]).alias("last_id"),
    )
