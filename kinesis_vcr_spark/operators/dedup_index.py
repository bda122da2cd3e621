"""Persisted incremental near-dup index — dedup a NEW batch against an
EXISTING corpus without re-LSHing the corpus.

This is the operation a real 100 TB ingest runs daily (VERDICT r05
item 4): re-running :func:`~kinesis_vcr_spark.operators.dedup.
near_dup_pairs_minhash` over corpus ∪ batch re-shingles and re-hashes
the entire corpus every day — O(corpus) work for an O(batch) question.
Instead, the corpus's MinHash band table ``(id, band_pos, band_hash)``
and its shingle sets are built ONCE and persisted as partitioned
parquet (the same build-once/probe-many artifact discipline as
``operators/ivf.py:build_ivf_index``); each new batch is LSH'd alone
(linear in the batch), equi-joined against the stored bands, verified
with exact Jaccard against the stored shingle sets, and — once
accepted — APPENDED so the index stays current. Build cost is paid
once per document ever, not once per day.

Parity contract (tested in tests/test_dedup_index.py): probing a new
batch returns exactly ``near_dup_pairs_minhash(old ∪ new)`` restricted
to pairs touching the new batch (new×old ∪ new×new), given identical
parameters. This holds because every ingredient is deterministic and
shared with the pair pipeline (:func:`~kinesis_vcr_spark.operators.
dedup.shingle_frame`, seeded universal-hash MinHash coefficients,
:func:`~kinesis_vcr_spark.operators.dedup.band_frame` xxhash64 band
hashes), and the hot-band cap is applied to the UNION band table —
exactly the population the full-corpus self-join would cap.

Scale posture:

- the probe shuffles the stored band table (≈ n_docs × bands rows of
  three scalars — at 10⁹ docs × 16 bands ≈ 300 GB, vs re-LSHing
  100 TB of text) plus the batch's bands; candidate generation stays
  a hash-partitioned equi-join, never all-pairs;
- verification joins only candidate ids against the stored shingle
  sets (parquet scan pruned by the join, never a full read);
- ``/bands`` is partitioned by ``band_pos`` so a band-position probe
  prunes to 1/bands of the files; at the very largest scales write the
  band table as a ``bucketBy(band_pos, band_hash)`` metastore table
  instead (:func:`build_near_dup_index_bucketed`) so the probe
  shuffles ONLY the new batch (same escape-hatch style as setjoin's
  dense_token_ids=False);
- ids must be unique across index + batch (the caller's ingest key);
  probing a batch whose ids are already indexed would self-pair, so
  equal ids are excluded defensively.

New ids must be comparable with indexed ids (same type) — output pairs
are ordered ``id_a < id_b`` regardless of which side is old.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.dedup import (
    DEFAULT_BAND_MEMBER_CAP,
    band_frame,
    cap_group_size,
    jaccard,
    minhash_signature_agg,
    shingle_frame,
)

_META_SCHEMA = (
    "shingle_size int, num_hashes int, bands int, char_ngrams boolean"
)
# the bucketed variant also records its bucket count: probes must
# repartition the batch side to EXACTLY this spec (see
# near_dup_against_bucketed_index) and appends must match it
_BQ_META_SCHEMA = _META_SCHEMA + ", n_buckets int"

def _rm_recursive(spark: SparkSession, path: str) -> None:
    """Delete a storage path through the Hadoop FileSystem API (works
    for any scheme the session can write, same pattern as
    config.py's preflight existence check)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


@dataclass(frozen=True)
class NearDupIndex:
    """Handle on a persisted index: the two artifact frames plus the
    LSH parameters they were built with (probes must reuse them — a
    probe with different parameters would produce incomparable band
    hashes, so the parameters travel with the artifact, not the
    caller)."""

    bands: DataFrame  # (id, band_pos, band_hash)
    shingles: DataFrame  # (id, shingles array<string>)
    shingle_size: int
    num_hashes: int
    num_bands: int
    char_ngrams: bool


def _index_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int,
    num_hashes: int,
    bands: int,
    char_ngrams: bool,
) -> tuple[DataFrame, DataFrame]:
    """(band rows ``(id, band_pos, band_hash)``, shingles ``(id,
    shingles)``) for a document frame — the shared build/probe path."""
    with_sh = shingle_frame(
        df, id_col, text_col, shingle_size, char_ngrams
    ).withColumnRenamed(id_col, "id")
    sigs = minhash_signature_agg(with_sh, "id", num_hashes)
    band_rows = band_frame(sigs, "id", num_hashes, bands).select(
        "id", F.posexplode("bands").alias("band_pos", "band_hash")
    )
    return band_rows, with_sh


def build_near_dup_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    char_ngrams: bool = False,
    append: bool = False,
    ingest_label: str | None = None,
) -> None:
    """Build (or, with ``append=True``, extend) the persisted index at
    ``index_path``: ``/bands`` (id, band_pos, band_hash; partitioned by
    band_pos), ``/shingles`` (id, shingles), ``/meta`` (the LSH
    parameters). Append verifies the parameters match the existing
    artifact — silently mixing band families would corrupt every later
    probe.

    ``ingest_label`` scopes the write to
    ``.../ingest=<label>`` and switches it to OVERWRITE of that scope:
    re-running the same labeled ingest (an at-least-once orchestrator
    replaying a batch — streaming/neardup.py) replaces its own rows
    instead of double-appending them. Unlabeled appends land under
    ``ingest=_appends`` cumulatively (idempotence is then the caller's
    problem). The label becomes a partition column on read and doubles
    as provenance."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    spark = df.sparkSession
    params = (shingle_size, num_hashes, bands, char_ngrams)
    if append:
        idx = load_near_dup_index(spark, index_path)
        have = (
            idx.shingle_size, idx.num_hashes, idx.num_bands, idx.char_ngrams,
        )
        if have != params:
            raise ValueError(
                f"index at {index_path} was built with "
                f"(shingle_size, num_hashes, bands, char_ngrams)={have}; "
                f"append requested {params}"
            )
    if ingest_label is not None:
        scope = f"ingest={ingest_label}"
        mode = "overwrite"  # replace THIS ingest's rows only
    else:
        scope = "ingest=_appends" if append else "ingest=_base"
        mode = "append" if append else "overwrite"
    if not append:
        # a FRESH build replaces the whole artifact, not just its own
        # ingest scope — stale scopes from a previous build (possibly a
        # previous layout) must not leak into partition discovery
        _rm_recursive(spark, f"{index_path}/bands")
        _rm_recursive(spark, f"{index_path}/shingles")
    # write the shingle sets FIRST, then read the written artifact back
    # as the band computation's input: the two artifacts previously
    # carried independent lineages, so the shingle projection (the
    # build's CPU-heavy part) executed twice per build — disk-backed
    # reuse halves it with no cache (the 100 TB-safe variant of a
    # persist; the signature pipeline is identical over identical rows).
    # Only for OVERWRITE writes: an unlabeled append accumulates into
    # ``ingest=_appends``, where a read-back would see prior appends'
    # rows and double-write their bands.
    with_sh = shingle_frame(
        df, id_col, text_col, shingle_size, char_ngrams
    ).withColumnRenamed(id_col, "id")
    write_first = mode == "overwrite"
    if write_first:
        with_sh.write.mode(mode).parquet(f"{index_path}/shingles/{scope}")
        sh_src = spark.read.parquet(
            f"{index_path}/shingles/{scope}"
        ).select("id", "shingles")
    else:
        sh_src = with_sh
    sigs = minhash_signature_agg(sh_src, "id", num_hashes)
    band_rows = band_frame(sigs, "id", num_hashes, bands).select(
        "id", F.posexplode("bands").alias("band_pos", "band_hash")
    )
    (
        band_rows.repartition("band_pos")
        .write.mode(mode)
        .partitionBy("band_pos")
        .parquet(f"{index_path}/bands/{scope}")
    )
    if not write_first:
        with_sh.write.mode(mode).parquet(f"{index_path}/shingles/{scope}")
    if not append:
        spark.createDataFrame([params], _META_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{index_path}/meta")


def load_near_dup_index(
    spark: SparkSession,
    index_path: str,
    exclude_ingest: str | None = None,
) -> NearDupIndex:
    """Re-open a persisted index. The frames are lazy parquet scans —
    nothing is read until a probe runs; the ``ingest`` provenance
    partition column is dropped from the probe-facing frames.

    ``exclude_ingest`` filters OUT one ingest scope (partition-pruned,
    never scanned): an at-least-once orchestrator replaying batch
    ``b{id}`` after a crash that already appended ``ingest=b{id}`` must
    probe the index WITHOUT the batch's own documents, or every pair
    the batch participates in is computed against a doubled shingle set
    (streaming/neardup.py passes its own label here)."""
    m = spark.read.parquet(f"{index_path}/meta").collect()[0]
    bands = spark.read.parquet(f"{index_path}/bands")
    shingles = spark.read.parquet(f"{index_path}/shingles")
    if exclude_ingest is not None:
        bands = bands.where(F.col("ingest") != exclude_ingest)
        shingles = shingles.where(F.col("ingest") != exclude_ingest)
    return NearDupIndex(
        bands=bands.select("id", "band_pos", "band_hash"),
        shingles=shingles.select("id", "shingles"),
        shingle_size=m["shingle_size"],
        num_hashes=m["num_hashes"],
        num_bands=m["bands"],
        char_ngrams=m["char_ngrams"],
    )


def _drop_managed_table(spark: SparkSession, name: str) -> None:
    """Drop a managed table from the (session-local) catalog AND remove
    its warehouse location if a previous session left one behind."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    _rm_recursive(spark, f"{warehouse.rstrip('/')}/{name.lower()}")


@contextmanager
def _one_file_per_bucket(spark: SparkSession, n_buckets: int):
    """Write each bucket as ONE sorted file. That keeps the file count
    at n_buckets (not n_buckets x writer tasks — listing/open overhead
    on every probe), and lets a session that opts into
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` skip
    the stored-side Sort in sort-merge probes entirely (the opt-in is
    deliberate: exposing the order makes PLANNING list files, which
    Spark considers too expensive to do by default — measured here:
    stored-side Sorts 1 -> 0 with the conf on and one file per
    bucket). The explicit ``repartition(n_buckets, cols)``
    alone is NOT enough — Spark's planned write inserts its own
    Exchange on the bucket columns at ``spark.sql.shuffle.partitions``
    partitions, so each writer task holds a MIX of buckets whenever
    conf != n_buckets (observed: conf 4 → 4 tasks × ~14 bucket files
    each). Pinning conf to n_buckets for the write makes the writer's
    partitioning coincide with bucket assignment (same pmod(hash)
    expression) → exactly one file per bucket at any session conf.
    The conf flip is visible to concurrent queries on the session for
    the duration of the write — same session-global caveat as any
    conf-scoped block; builds are batch operations, so this is the
    build's documented trade. Appends still add a file per bucket
    (ordering lost, clustering kept) until
    :func:`compact_near_dup_index_bucketed` restores the layout."""
    pins = {
        # the writer's required-distribution Exchange lands at conf
        # partitions...
        "spark.sql.shuffle.partitions": str(n_buckets),
        # ...and AQE happily coalesces that Exchange below n_buckets on
        # small data (ENSURE_REQUIREMENTS origin is coalescible), which
        # re-mixes buckets across writer tasks — off for the write
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # ...and the planned-write path can still re-plan the exchange
        # away from the explicit repartition — the legacy writer uses
        # the incoming partitioning as-is (sorting within each task by
        # bucket id + sort columns)
        "spark.sql.optimizer.plannedWrite.enabled": "false",
    }
    before = {k: spark.conf.get(k) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def build_near_dup_index_bucketed(
    df: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_size: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    char_ngrams: bool = False,
    n_buckets: int = 32,
    append: bool = False,
) -> None:
    """The METASTORE variant of :func:`build_near_dup_index` (VERDICT
    r06 item 7) — the extreme-scale path the parquet artifact's
    docstring promises: band rows ``bucketBy(n_buckets, band_pos,
    band_hash)`` and shingle sets ``bucketBy(n_buckets, id)``, so a
    probe shuffles
    ONLY the new batch. The parquet layout shuffles the stored band
    table on every probe (≈ n_docs × bands rows — 300 GB at 10⁹ docs);
    here the stored scans come out of the warehouse already
    hash-partitioned on the join keys and the probe plan has ZERO
    Exchange on any stored-side scan (plan-pinned in
    tests/test_dedup_index.py).

    Tables written: ``{prefix}_bands`` (id, band_pos, band_hash),
    ``{prefix}_shingles`` (id, shingles), ``{prefix}_meta`` (the LSH
    parameters, 1 row). ``append=True`` inserts a new batch into the
    existing tables (bucketed appends add files per bucket — compact
    occasionally exactly like the scoped parquet layout) after the same
    parameter check as the parquet append."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    spark = df.sparkSession
    params = (shingle_size, num_hashes, bands, char_ngrams, n_buckets)
    if append:
        m = spark.table(f"{table_prefix}_meta").collect()[0]
        have = (
            m["shingle_size"], m["num_hashes"], m["bands"],
            m["char_ngrams"], m["n_buckets"],
        )
        if have != params:
            raise ValueError(
                f"bucketed index {table_prefix} was built with "
                f"(shingle_size, num_hashes, bands, char_ngrams, "
                f"n_buckets)={have}; append requested {params}"
            )
    mode = "append" if append else "overwrite"
    if not append:
        # the catalog is session-local but the WAREHOUSE DIR persists:
        # a fresh session's overwrite hits LOCATION_ALREADY_EXISTS on a
        # previous session's managed-table leftovers — drop any catalog
        # entry AND clear the stale location before writing
        for suffix in ("_bands", "_shingles", "_meta"):
            _drop_managed_table(spark, f"{table_prefix}{suffix}")
    with_sh = shingle_frame(
        df, id_col, text_col, shingle_size, char_ngrams
    ).withColumnRenamed(id_col, "id")
    # bucket on BOTH join keys: co-partitioning requires the bucket
    # columns to cover ALL the join's cluster keys (Spark's
    # requireAllClusterKeysForCoPartition, default true) — bucketing
    # on band_hash alone gets the scan's bucketing disabled by the
    # planner and the stored side re-shuffled on every probe.
    # Fresh builds write shingles FIRST and compute band rows from the
    # written table (same disk-backed reuse as the parquet build: the
    # shingle projection runs once per build, not once per artifact).
    # Appends keep the direct lineage — reading the table back after an
    # append would see the whole accumulated corpus and double-write
    # every prior batch's bands.
    with _one_file_per_bucket(spark, n_buckets):
        (
            with_sh.repartition(n_buckets, "id")
            .write.mode(mode)
            .bucketBy(n_buckets, "id")
            .sortBy("id")
            .format("parquet")
            .saveAsTable(f"{table_prefix}_shingles")
        )
        sh_src = (
            spark.table(f"{table_prefix}_shingles").select("id", "shingles")
            if not append
            else with_sh
        )
        sigs = minhash_signature_agg(sh_src, "id", num_hashes)
        band_rows = band_frame(sigs, "id", num_hashes, bands).select(
            "id", F.posexplode("bands").alias("band_pos", "band_hash")
        )
        (
            band_rows.repartition(n_buckets, "band_pos", "band_hash")
            .write.mode(mode)
            .bucketBy(n_buckets, "band_pos", "band_hash")
            .sortBy("band_pos", "band_hash")
            .format("parquet")
            .saveAsTable(f"{table_prefix}_bands")
        )
    if not append:
        spark.createDataFrame([params], _BQ_META_SCHEMA).write.mode(
            "overwrite"
        ).format("parquet").saveAsTable(f"{table_prefix}_meta")


def near_dup_against_bucketed_index(
    new_df: DataFrame,
    spark: SparkSession,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    band_member_cap: int | None = DEFAULT_BAND_MEMBER_CAP,
) -> DataFrame:
    """Probe the bucketed index — same output contract as
    :func:`near_dup_against_index` (new×old ∪ new×new pairs,
    ``id_a < id_b``, exact Jaccard ≥ threshold; parity test-pinned) but
    with the ONLY-SHUFFLE-THE-BATCH plan:

    - the hot-band cap is computed at KEY level: stored per-band counts
      come from a groupBy on the bucketed scan (bucket-local partial
      agg, no Exchange — HashPartitioning(band_hash) satisfies the
      clustering on (band_pos, band_hash)), added to the batch's own
      counts. total > cap drops the band, which is row-for-row
      equivalent to ``cap_group_size`` over the union population —
      the parity-load-bearing detail of the parquet probe, preserved
      without ever shuffling a stored band row;
    - candidate joins read the stored bands in place (batch side
      shuffles to the bucket spec);
    - verification coalesces each pair side between the bucketed
      shingle table (no Exchange) and the batch's own shingles, so
      stored shingle sets are never shuffled either.

    Every batch-side frame is EXPLICITLY repartitioned to the stored
    bucket spec (``n_buckets`` from the meta table) before joining.
    This is load-bearing, not cosmetic: when
    ``spark.sql.shuffle.partitions`` exceeds the bucket count — the
    NORMAL state on a real cluster, where shuffle partitions are in
    the thousands — EnsureRequirements refuses to reuse a child
    partitioning coarser than the conf, shuffles the STORED side to
    conf partitions, and DisableUnnecessaryBucketedScan then disables
    the bucketed read entirely (measured: conf 33+ vs 32 buckets flips
    the stored scan to Exchange + ``Bucketed: false``). With both join
    children explicitly at the bucket spec the partitionings are
    compatible at any conf and no stored row ever moves (plan-pinned
    at conf ≫ buckets in tests/test_dedup_index.py).
    """
    m = spark.table(f"{table_prefix}_meta").collect()[0]
    n_buckets = m["n_buckets"]
    new_bands, new_sh = _index_rows(
        new_df, id_col, text_col,
        m["shingle_size"], m["num_hashes"], m["bands"], m["char_ngrams"],
    )
    # The batch's shingle sets feed the signature pipeline + both
    # verify sides, but persisting them MEASURED SLOWER (r14, healthy
    # rig, interleaved 4-variant A/B, 7 cycles pooled: persisted
    # medians 10.3–10.8 s vs unpersisted 7.9–8.9 s for the full
    # registry row) — the recompute is whole-stage codegen over a
    # pruned batch scan, cheaper than the cache round-trip (the same
    # persist-pays trap as BASELINE r13 addendum 2). Deliberately NOT
    # persisted; see near_dup_against_index for the twin verdict.
    stored = spark.table(f"{table_prefix}_bands")
    keys = ["band_pos", "band_hash"]
    # one shuffle of the batch to the stored layout; everything built
    # from new_bands below inherits (band_pos, band_hash) clustering
    new_bands = new_bands.repartition(n_buckets, *keys)
    if band_member_cap is not None:
        stored_cnt = stored.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__n_old")
        )
        new_cnt = new_bands.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__n_new")
        )
        ok_keys = (
            new_cnt.join(stored_cnt, keys, "left")
            .where(
                F.coalesce(F.col("__n_old"), F.lit(0)) + F.col("__n_new")
                <= band_member_cap
            )
            .select(*keys)
        )
        new_bands = new_bands.join(ok_keys, keys)
    left = new_bands.alias("l")
    cand_old = (
        left.join(
            stored.alias("r"),
            (F.col("l.band_pos") == F.col("r.band_pos"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") != F.col("r.id")),
        )
        .select(
            F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
        )
    )
    cand_new = (
        left.join(
            new_bands.alias("r2"),
            (F.col("l.band_pos") == F.col("r2.band_pos"))
            & (F.col("l.band_hash") == F.col("r2.band_hash"))
            & (F.col("l.id") < F.col("r2.id")),
        )
        .select(
            F.col("l.id").alias("id_a"), F.col("r2.id").alias("id_b")
        )
    )
    # dedup the candidate pairs INSIDE the bucket-spec exchange the
    # a-side verify joins need anyway (r15): hash(id_a) co-locates
    # equal (id_a, id_b) rows, so dropDuplicates after the repartition
    # is exactly distinct() — one exchange instead of the old
    # distinct-at-conf exchange followed by the id_a re-key
    cand = (
        cand_old.unionByName(cand_new)
        .repartition(n_buckets, "id_a")
        .dropDuplicates(["id_a", "id_b"])
    )
    stored_sh = spark.table(f"{table_prefix}_shingles")

    def side(which: str) -> tuple[DataFrame, DataFrame, Column]:
        old_s = stored_sh.select(
            F.col("id").alias(which), F.col("shingles").alias(f"__o_{which}")
        )
        new_s = new_sh.select(
            F.col("id").alias(which), F.col("shingles").alias(f"__n_{which}")
        )
        return old_s, new_s, F.coalesce(
            F.col(f"__o_{which}"), F.col(f"__n_{which}")
        )

    a_old, a_new, sh_a = side("id_a")
    b_old, b_new, sh_b = side("id_b")
    # candidates are ALREADY at the id_a bucket spec (the dedup above
    # rode that exchange), so only the id_b side re-clusters — one
    # batch-sized shuffle; the stored shingle scans join in place at
    # any conf either way
    return (
        cand.join(a_old, "id_a", "left")
        .join(a_new, "id_a", "left")
        .repartition(n_buckets, "id_b")
        .join(b_old, "id_b", "left")
        .join(b_new, "id_b", "left")
        .select(
            "id_a", "id_b", jaccard(sh_a, sh_b).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


def compact_near_dup_index(spark: SparkSession, index_path: str) -> None:
    """Collapse a many-ingest index (a long-lived
    streaming/neardup.py run appends one scope per micro-batch) into
    one ``ingest=_compacted`` scope per artifact, preserving the
    band-table's ``band_pos`` physical partitioning. Probe results are
    identical before and after (test-pinned); run only while no ingest
    is writing — see
    :func:`~kinesis_vcr_spark.operators.compaction.compact_scoped_state`."""
    from kinesis_vcr_spark.operators.compaction import compact_scoped_state

    compact_scoped_state(spark, f"{index_path}/bands", ("band_pos",))
    compact_scoped_state(spark, f"{index_path}/shingles")


def compact_near_dup_index_bucketed(
    spark: SparkSession, table_prefix: str
) -> None:
    """Restore the one-sorted-file-per-bucket layout of a bucketed
    index after appends. Each append adds a file per bucket: bucket
    CLUSTERING survives (probes stay in place) but the file count
    grows with every batch, and a bucket holding more than one file
    can never expose its sortBy order (see
    :func:`_one_file_per_bucket` for the Sort-elision opt-in). This
    rewrites each table through a ``__compacting`` sibling and swaps
    it in via ``ALTER TABLE RENAME`` — run only while no append or
    probe is in flight (same drained-stream contract as
    :func:`~kinesis_vcr_spark.operators.compaction.compact_scoped_state`).
    A crash between drop and rename leaves all rows in the
    ``__compacting`` table to rename by hand; content is never
    half-merged. Probe results are identical before/after
    (test-pinned)."""
    m = spark.table(f"{table_prefix}_meta").collect()[0]
    n_buckets = m["n_buckets"]
    for suffix, cols in (
        ("_bands", ["band_pos", "band_hash"]),
        ("_shingles", ["id"]),
    ):
        name, tmp = f"{table_prefix}{suffix}", f"{table_prefix}{suffix}__compacting"
        _drop_managed_table(spark, tmp)
        # read the table's FILES as plain parquet, not spark.table():
        # on the bucketed relation Catalyst elides the explicit
        # repartition as redundant (the table already "is" hash(cols,
        # n)), then scans it UNBUCKETED in size-based partitions — the
        # write would land multi-bucket task files, the exact layout
        # this function exists to undo
        loc = (
            spark.sql(f"DESCRIBE FORMATTED {name}")
            .where(F.col("col_name") == "Location")
            .collect()[0]["data_type"]
        )
        with _one_file_per_bucket(spark, n_buckets):
            (
                spark.read.parquet(loc).repartition(n_buckets, *cols)
                .write.bucketBy(n_buckets, *cols).sortBy(*cols)
                .format("parquet").saveAsTable(tmp)
            )
        _drop_managed_table(spark, name)
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")


def near_dup_against_index(
    new_df: DataFrame,
    index: NearDupIndex,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    band_member_cap: int | None = DEFAULT_BAND_MEMBER_CAP,
) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, jaccard)`` touching the new batch
    — new×old plus new×new, ``id_a < id_b``, exact Jaccard ≥
    ``threshold`` — WITHOUT re-LSHing the indexed corpus.

    The left join side is only the batch's band rows; the right side
    is the union (stored ∪ batch), so old×old pairs are never even
    candidates. The hot-band cap is computed over that same union,
    which is exactly the band population ``near_dup_pairs_minhash``
    would cap on the full corpus — the parity test's load-bearing
    detail."""
    new_bands, new_sh = _index_rows(
        new_df, id_col, text_col,
        index.shingle_size, index.num_hashes, index.num_bands,
        index.char_ngrams,
    )
    # The batch's shingle sets feed three consumers (the signature
    # pipeline under the band union, and both verify join sides).
    # Persisting them was tried in r14 and MEASURED SLOWER (healthy
    # rig, interleaved 4-variant A/B, 7 cycles pooled: persisted
    # medians 8.7–9.1 s vs unpersisted 6.9 s for the full registry
    # row): the recompute is whole-stage codegen over a pruned batch
    # scan, cheaper than the InMemoryRelation round-trip — the same
    # persist-pays trap §8/BASELINE r13 addendum 2 document. The cache
    # WOULD be O(batch)/scale-safe; it is omitted purely on measured
    # cost. Do not re-land without a same-session win at bench scale.
    union = index.bands.select(
        "id", "band_pos", "band_hash", F.lit(True).alias("__old")
    ).unionByName(
        new_bands.select(
            "id", "band_pos", "band_hash", F.lit(False).alias("__old")
        )
    )
    # the exchange the equi-join needs anyway; doubles as the exchange
    # the cap's window count rides (see _candidate_pairs_from_bands)
    union = union.repartition("band_pos", "band_hash")
    union = cap_group_size(union, ["band_pos", "band_hash"], band_member_cap)
    left = union.where(~F.col("__old")).alias("l")
    right = union.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_pos") == F.col("r.band_pos"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            # new×new once (l.id < r.id); new×old always from the l
            # side; equal ids defensively excluded (re-probing an
            # already-appended batch must not self-pair)
            & (F.col("r.__old") | (F.col("l.id") < F.col("r.id")))
            & (F.col("l.id") != F.col("r.id")),
        )
        .select(
            F.least(F.col("l.id"), F.col("r.id")).alias("id_a"),
            F.greatest(F.col("l.id"), F.col("r.id")).alias("id_b"),
        )
        .distinct()
    )
    all_sh = index.shingles.unionByName(new_sh)
    sh_a = all_sh.select(
        F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = all_sh.select(
        F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a", "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
