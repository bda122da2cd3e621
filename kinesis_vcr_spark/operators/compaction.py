"""Archive compaction — merge small sequence-range files into
target-sized ones, manifest-driven.

The record side flushes a file per (shard, dt, trigger) — the
reference's 60 s default (VcrConfiguration.java:15) on a quiet shard
produces thousands of tiny S3 objects per day, and at 100 TB the
listing + per-object GET overhead dominates replay ("small-file
problem"). Compaction rewrites each (shard, dt) run of
sequence-adjacent files into files of ~``target_bytes``, preserving the
archive invariants: one shard per file, contiguous ``[firstSeq,
lastSeq]`` naming, byte-identical payload concatenation (files already
end in '\\n', so merge = concat).

Design:

- **Plan** is pure DataFrame math over the manifest (no file IO): a
  window cumulative sum per (shard, dt) ordered by numeric sequence,
  chunked by ``floor(start/target)`` — the same concatenate-then-chunk
  discipline as sequence packing (operators/packing.py), applied to
  bytes instead of tokens.
- **Execute** reads only multi-file groups through Spark's
  ``binaryFile`` source (distributed, no driver IO), merges each group
  in one ``applyInPandas`` task (a group is ≤ ~target_bytes by
  construction — bounded task memory), and writes the merged file into
  a NEW archive root (copy-on-compact). Untouched single-file groups
  keep their original paths: the returned manifest points readers at
  exactly one copy of every byte, old generation or new — an atomic
  swap is "start reading the new manifest", and a failed run changes
  nothing (the old manifest never references the new root).

Scale posture: one window per (shard, dt) key (thousands of files per
key, not millions — keys partition the work), one shuffle to group file
*contents* by merge group, writer tasks bounded by ``target_bytes``.
The driver never sees a file path or payload.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_vcr_spark.model import MANIFEST_SCHEMA
from kinesis_vcr_spark.sources.archive import write_shard_files


def _seq_order() -> list:
    """Numeric order for decimal-string sequence numbers (unique per
    shard): shorter string = smaller number, then lexicographic.
    Built lazily — Column construction needs an active session."""
    return [F.length("first_seq"), F.col("first_seq")]


def plan_compaction(manifest: DataFrame, target_bytes: int) -> DataFrame:
    """Assign every manifest file to a merge group.

    Adds ``group_id`` (chunk index within its (shard, dt) run) and
    ``group_files`` (files in that group — 1 ⇒ nothing to rewrite).
    A file bigger than ``target_bytes`` lands alone in its group; the
    chunk boundary math never splits a file.
    """
    w = (
        Window.partitionBy("shard_id", "dt")
        .orderBy(*_seq_order())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = manifest.withColumn(
        "group_id",
        F.floor(
            (F.sum("byte_size").over(w) - F.col("byte_size"))
            / F.lit(float(target_bytes))
        ).cast("long"),
    )
    counts = planned.groupBy("shard_id", "dt", "group_id").agg(
        F.count("*").alias("group_files")
    )
    return planned.join(counts, ["shard_id", "dt", "group_id"])


def compact_archive(
    spark: SparkSession,
    manifest: DataFrame,
    compacted_root: str,
    target_bytes: int,
) -> DataFrame:
    """Execute a compaction plan; returns the NEW manifest.

    Multi-file groups are merged into ``compacted_root/dt=…/shard=…/
    {firstSeq}-{lastSeq}``; single-file groups pass through untouched
    (their manifest rows keep the original path). The output has
    MANIFEST_SCHEMA shape and is safe to write with ``mode("append")``
    semantics disabled — it is a full replacement manifest.
    """
    plan = plan_compaction(manifest, target_bytes)
    passthrough = plan.where(F.col("group_files") == 1).select(
        *MANIFEST_SCHEMA.fieldNames()
    )
    todo = plan.where(F.col("group_files") > 1)

    paths = [r["file_path"] for r in todo.select("file_path").collect()]
    if not paths:
        return passthrough

    contents = (
        spark.read.format("binaryFile")
        .load(paths)
        # binaryFile reports URIs ('file:/…'); the manifest stores the
        # path as written — normalize so the join keys line up
        .select(
            F.regexp_replace(F.col("path"), "^file:", "").alias("file_path"),
            "content",
        )
    )
    with_meta = todo.select(
        "shard_id", "dt", "group_id", "file_path", "first_seq", "last_seq",
        "record_count",
    ).join(contents, "file_path")

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = write_shard_files(
            compacted_root,
            pdf["shard_id"].iat[0],
            pdf["dt"].iat[0],
            zip(pdf["first_seq"], pdf["last_seq"], pdf["record_count"], pdf["content"]),
        )
        return pd.DataFrame(list(rows), columns=MANIFEST_SCHEMA.fieldNames())

    merged = with_meta.groupBy("shard_id", "dt", "group_id").applyInPandas(
        merge, MANIFEST_SCHEMA
    )
    return passthrough.unionByName(merged)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jvm


def _recover_crashed_swap(fs, jvm, path: str, tmp: str, old: str) -> None:
    """Repair the between-renames crash window of
    :func:`compact_scoped_state`: if ``path`` is missing, install the
    completed new generation (``tmp`` with a ``_SUCCESS`` marker under
    its ``ingest=_compacted`` scope) or, failing that, restore the old
    generation from ``old``. No-op when ``path`` exists."""
    P = jvm.org.apache.hadoop.fs.Path
    if fs.exists(P(path)):
        return
    if fs.exists(P(f"{tmp}/ingest=_compacted/_SUCCESS")):
        if not fs.rename(P(tmp), P(path)):
            raise OSError(f"crash recovery failed installing {tmp} at {path}")
        fs.delete(P(old), True)
    elif fs.exists(P(old)):
        if not fs.rename(P(old), P(path)):
            raise OSError(f"crash recovery failed restoring {old} to {path}")
        fs.delete(P(tmp), True)
    # neither generation present: nothing to recover — the read below
    # will fail loudly on the missing path, which is correct.


def compact_scoped_state(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...] = (),
    target_files: int = 1,
    aggregate_fn=None,
) -> None:
    """Compact an ``ingest=<scope>``-partitioned parquet state dir
    (the layout shared by streaming/graph.py edge state,
    streaming/neardup.py pairs, operators/dedup_index.py bands and
    shingles, operators/ivf.py lists) into a single
    ``ingest=_compacted`` scope.

    A long-lived stream appends one scope per micro-batch; at 100 TB
    that is millions of small files whose LISTING eventually dominates
    every probe/snapshot. Content is preserved exactly (same rows,
    provenance column collapsed), so any read path that drops
    ``ingest`` — which every probe/snapshot/read path in this repo does
    — produces byte-identical results after compaction (test-pinned in
    tests/test_state_compaction.py).

    Run it only against a DRAINED or paused stream: the swap is
    rename-based (write ``__compacting`` tmp → rename old aside →
    rename tmp in → delete old), and a writer racing the swap could
    land a scope in the doomed generation.

    Crash contract: there is an unavoidable window BETWEEN the two
    renames where NO live dir exists at ``path`` — only
    ``__pre_compact`` (the old generation, complete) and
    ``__compacting`` (the new generation, complete — it was fully
    written and ``_SUCCESS``-marked before the first rename). Readers
    fail loudly during that window; no crash point can expose a
    half-merged table. The function REPAIRS the window itself on the
    next invocation: on entry, if ``path`` is missing it installs the
    new generation when ``__compacting`` carries ``_SUCCESS``,
    otherwise restores ``__pre_compact``. Call it again after a crash
    (or just re-run the scheduled compaction) — no manual repair.

    ``partition_cols`` preserves an inner physical partitioning (e.g.
    ``("band_pos",)`` for the near-dup band table); otherwise output is
    coalesced to ``target_files`` files.
    """
    fs, jvm = _hadoop_fs(spark, path)
    tmp = f"{path}__compacting"
    old = f"{path}__pre_compact"
    _recover_crashed_swap(fs, jvm, path, tmp, old)
    df = spark.read.parquet(path).drop("ingest")
    if aggregate_fn is not None:
        # semantic compaction: the caller's re-aggregation must leave
        # every read path's RESULT unchanged (e.g. the gram index's
        # per-gram capped totals — compact_gram_index); rows shrink,
        # answers don't. Content-exact compaction stays the default.
        df = aggregate_fn(df)
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
    out = df.repartition(*partition_cols) if partition_cols else df.coalesce(
        target_files
    )
    writer = out.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(f"{tmp}/ingest=_compacted")
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(P(path), P(old)):
        raise OSError(f"compaction swap failed renaming {path} aside")
    if not fs.rename(P(tmp), P(path)):
        fs.rename(P(old), P(path))  # roll back — old generation intact
        raise OSError(f"compaction swap failed installing {tmp}")
    fs.delete(P(old), True)
