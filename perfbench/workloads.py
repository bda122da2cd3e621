"""The workloads: inputs, one timed pass of the public verbs, the
output checks and the per-layer counters.

A pass calls the program's public functions the way a user runs them.
Its timing is the e2e side. Everything else — job-group counters,
streaming progress, event-log task metrics and the extra probe calls
that split a verb into its layers — runs only in the traced run
(``ctx.traced``), so the untraced run measures the program alone.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

from perfbench import fakesink, inputs, probe

SINK_WRITERS = 10  # replay parallelism: the CLI default (10 put threads)
# The record workload's prime pass runs on inputs this many times
# smaller: it only has to pay the cold code paths (class loading, first
# streaming query, first callback, codegen) before the timed passes.
PRIME_SHARE = 4


@dataclass
class Ctx:
    spark: object
    tracer: probe.Tracer
    traced: bool
    work: str  # per-run scratch directory inside the checkout
    cache: str  # per-checkout cache (oracle answers)
    jvm: int  # driver JVM pid: root of the process tree whose CPU is counted

    @property
    def sc(self):
        return self.spark.sparkContext


@dataclass
class PassResult:
    tag: str
    seconds: dict[str, float] = field(default_factory=dict)  # verb → wall s
    cpu: dict[str, float] = field(default_factory=dict)  # verb → engine CPU s
    layers: dict[str, float] = field(default_factory=dict)  # traced counters
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    items: dict[str, float] = field(default_factory=dict)  # rate numerators

    @property
    def wall(self) -> float:
        return sum(self.seconds.values())

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu.values())


class Workload:
    name = ""

    def make_inputs(self, seed: int, out_dir: str) -> None:
        """Generate the timed inputs, and the prime inputs if smaller."""
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, tag: str, full_check: bool, prime: bool = False) -> PassResult:
        """One pass of the public calls, then its checks; ``prime`` runs
        it on the prime inputs where the workload has them."""
        raise NotImplementedError

    def e2e(self, passes: list[PassResult]) -> dict[str, tuple[float, str]]:
        """Per-verb figures of this workload for the report lines."""
        raise NotImplementedError

    def _call(self, ctx: Ctx, res: PassResult, verb: str, fn, group: str | None = None):
        """Time one public call (wall and engine CPU); in the traced run
        also tag its Spark jobs with a job group and keep their counts
        under ``verb.*``. Streaming queries run their batches under their
        own ``runId`` group: pass ``group=""`` and count them afterwards."""
        if group is None:
            group = f"{ctx.tracer.run_id}:{res.tag}:{verb}"
        tag_jobs = group if ctx.traced and group else None
        cpu0 = probe.engine_cpu_s(ctx.jvm)
        with ctx.tracer.span(verb) as sp, probe.job_group(ctx.sc, tag_jobs):
            out = fn()
        res.cpu[verb] = probe.engine_cpu_s(ctx.jvm) - cpu0
        res.seconds[verb] = sp.seconds
        if tag_jobs:
            counts = probe.job_counts(ctx.sc, group)
            res.layers[f"{verb}.jobs"] = counts.jobs
            res.layers[f"{verb}.stages"] = counts.stages
            res.layers[f"{verb}.tasks"] = counts.tasks
            res.layers[f"{verb}.group"] = group
        return out


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# record → estimate → replay over a generated stream
# --------------------------------------------------------------------------


def _today_range() -> tuple[datetime, datetime]:
    """Replay/estimate range around the processing-time write date the
    record path stamps (yesterday 00:00 to tomorrow 23:59:59 UTC, so a
    run that crosses midnight still covers its archive)."""
    today = datetime.utcnow().replace(hour=0, minute=0, second=0, microsecond=0)
    return today - timedelta(days=1), today + timedelta(days=2) - timedelta(seconds=1)


class RecordsWorkload(Workload):
    """``record_stream``, ``record_stream_with_manifest``, both estimates
    and a full-range ``replay`` into the fake sink."""

    name = "large_records"

    def __init__(self):
        self.rs: inputs.RecordSet | None = None
        self.prime_rs: inputs.RecordSet | None = None

    def make_inputs(self, seed, out_dir):
        self.rs = inputs.make_records(seed, f"{out_dir}/timed", inputs.RECORDS, inputs.OVERSIZE)
        self.prime_rs = inputs.make_records(
            seed, f"{out_dir}/prime", inputs.RECORDS // PRIME_SHARE, 1)

    def run_pass(self, ctx, tag, full_check, prime=False):
        from kinesis_vcr_spark.config import VcrConfig
        from kinesis_vcr_spark.functions.estimate import (
            estimate_from_manifest,
            estimate_replay_time,
        )
        from kinesis_vcr_spark.model import RECORD_SCHEMA
        from kinesis_vcr_spark.play import replay
        from kinesis_vcr_spark.streaming.record import (
            record_stream,
            record_stream_with_manifest,
        )

        rs, spark = (self.prime_rs if prime else self.rs), ctx.spark
        pdir = os.path.join(ctx.work, tag)
        res = PassResult(tag)

        def source():
            return (
                spark.readStream.schema(RECORD_SCHEMA)
                .option("maxFilesPerTrigger", inputs.FILES_PER_TRIGGER)
                .parquet(rs.source_dir)
            )

        cfg_text = VcrConfig(archive_root=f"{pdir}/text", source_stream="stream",
                             checkpoint_location=f"{pdir}/ck_text")
        cfg_seq = VcrConfig(archive_root=f"{pdir}/seq", source_stream="stream",
                            checkpoint_location=f"{pdir}/ck_seq")
        manifest = f"{pdir}/manifest"
        queries = {}

        def drain(prefix, start_query):
            with ctx.tracer.span(f"{prefix}.start") as sp:
                q = start_query()
            res.layers[f"{prefix}.start_s"] = sp.seconds
            queries[prefix] = q
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"{prefix} query failed: {q.exception()}")

        self._call(ctx, res, "record", lambda: drain(
            "record", lambda: record_stream(source(), cfg_text, available_now=True)), group="")
        self._call(ctx, res, "record_manifest", lambda: drain(
            "record_manifest", lambda: record_stream_with_manifest(
                source(), cfg_seq, manifest, available_now=True)), group="")

        start, end = _today_range()
        est = self._call(ctx, res, "estimate", lambda: estimate_replay_time(
            spark, cfg_seq.archive_path, start, end, open_shards=inputs.SHARDS))
        est_m = self._call(ctx, res, "estimate_manifest", lambda: estimate_from_manifest(
            spark, manifest, start, end, open_shards=inputs.SHARDS))
        stats_dir = f"{pdir}/sink"
        os.makedirs(stats_dir)
        writer = fakesink.sink_writer(stats_dir)
        result = self._call(ctx, res, "replay", lambda: replay(
            spark, cfg_text.archive_path, start, end, writer, parallelism=SINK_WRITERS))

        if ctx.traced:
            for prefix, q in queries.items():
                self._record_layers(ctx, res, prefix, q)
            _archive_layers(ctx, res, cfg_text.archive_path, start, end)
            _estimate_layers(ctx, res, cfg_seq.archive_path, start, end)

        with ctx.tracer.span("check"):  # outside the timed calls
            text_files = inputs.archive_files(cfg_text.archive_path)
            seq_files = inputs.archive_files(cfg_seq.archive_path)
            for label, files in (("record", text_files), ("record_manifest", seq_files)):
                on_disk = sum(os.path.getsize(f) for f in files)
                if on_disk != rs.archive_bytes:
                    res.problems.append(
                        f"{label}: archive holds {on_disk} B, expected {rs.archive_bytes}")
                if full_check and not np.array_equal(
                        inputs.archive_fingerprint(files), rs.expected):
                    res.problems.append(f"{label}: archived payloads differ from the source")
                res.layers[f"{label}.files"] = len(files)
                res.layers[f"{label}.bytes_per_payload_byte"] = on_disk / rs.payload_bytes
            recorded = _manifest_records(manifest)
            if recorded != rs.n:
                res.problems.append(f"manifest sum(record_count) = {recorded}, expected {rs.n}")
            _check_estimates(res, est, est_m, seq_files)
            expected = rs.expected[~np.isin(rs.expected[:, 0], rs.oversize_ids)]
            _check_replay(res, result, stats_dir, expected)
            res.attempted += 2 * rs.n + 2
        shutil.rmtree(pdir, ignore_errors=True)
        return res

    def _record_layers(self, ctx, res, prefix, query):
        prog = probe.progress_seconds(query)
        for key in ("batches", "add_batch_s", "commit_s", "plan_s"):
            res.layers[f"{prefix}.{key}"] = prog[key]
        counts = probe.job_counts(ctx.sc, str(query.runId))
        res.layers[f"{prefix}.jobs"] = counts.jobs
        res.layers[f"{prefix}.tasks"] = counts.tasks

    def e2e(self, passes):
        n = self.rs.n
        return {
            "record_rps": (n / _median(p.seconds["record"] for p in passes), "records/s"),
            "record_manifest_rps": (
                n / _median(p.seconds["record_manifest"] for p in passes), "records/s"),
            "estimate_s": (_median(p.seconds["estimate"] for p in passes), "s"),
            "estimate_manifest_s": (_median(p.seconds["estimate_manifest"] for p in passes), "s"),
            "replay_rps": (
                _median(p.items["accepted"] / p.seconds["replay"] for p in passes), "records/s"),
        }


def _manifest_records(manifest_path: str) -> int:
    import pyarrow.dataset as ds

    table = ds.dataset(manifest_path, format="parquet").to_table(
        columns=["file_path", "record_count"])
    paths = table.column("file_path").to_pylist()
    counts = table.column("record_count").to_pylist()
    return sum(dict(zip(paths, counts)).values())


def _check_estimates(res, est, est_m, files) -> None:
    on_disk = (len(files), sum(os.path.getsize(f) for f in files))
    got = (est.file_count, est.total_bytes)
    if got != on_disk:
        res.problems.append(f"estimate: (files, bytes) = {got}, on disk {on_disk}")
    got_m = (est_m.file_count, est_m.total_bytes)
    if got_m != got:
        res.problems.append(f"estimate_manifest: {got_m} disagrees with the listing {got}")


def _check_replay(res, result, stats_dir, expected) -> None:
    """Sink-side checks of one replay; an accounting gap (records the
    replay reports delivered that the sink never accepted) counts as
    failed operations."""
    stats = fakesink.collect(stats_dir)
    if stats.cap_violations:
        res.problems.append(f"sink: {stats.cap_violations} calls over the PutRecords caps")
    if stats.duplicates:
        res.problems.append(f"sink: {stats.duplicates} payloads accepted twice")
    if not np.array_equal(inputs.canonical(stats.accepted), expected):
        res.problems.append(
            f"sink: accepted {len(stats.accepted)} payloads, expected {len(expected)} "
            "(archived minus oversize)")
    gap = result.records_delivered - len(stats.accepted)
    res.attempted += result.records_attempted
    res.failed += abs(gap)
    res.items["accepted"] = len(stats.accepted)
    calls = max(stats.calls, 1)
    res.layers.update({
        "replay.accounting_gap": gap,
        "sink.put_calls": stats.calls,
        "sink.records_per_call": stats.call_records / calls,
        "sink.bytes_per_call": stats.call_bytes / calls,
        "sink.retry_calls": stats.retry_calls,
        "sink.retried_records": stats.retried_records,
        "sink.backoff_wait_s": stats.backoff_wait_s,
        "sink.oversize_dropped": stats.oversize_in,
    })


def _archive_layers(ctx, res, archive_path, start, end) -> None:
    """Split replay's scan set-up out: ``read_archive`` (the file-index
    listing), the files it indexed and the files its range keeps."""
    from pyspark.sql import functions as F

    from kinesis_vcr_spark.sources.archive import read_archive, read_archive_lines

    with ctx.tracer.span("archive.open") as sp:
        df = read_archive(ctx.spark, archive_path, start, end)
    indexed = len(df.inputFiles())
    with ctx.tracer.span("archive.scan_probe"):
        row = (
            read_archive_lines(ctx.spark, archive_path, start, end)
            .select("file_path", "file_size").distinct()
            .agg(F.count("*").alias("n"), F.coalesce(F.sum("file_size"), F.lit(0)).alias("b"))
            .collect()[0]
        )
    res.layers.update({
        "archive.open_s": sp.seconds,
        "archive.files_indexed": indexed,
        "archive.files_in_range": row["n"],
        "archive.index_useful_ratio": row["n"] / indexed if indexed else 0.0,
        "archive.scan_bytes": row["b"],
    })


def _estimate_layers(ctx, res, archive_path, start, end) -> None:
    """Split ``estimate_replay_time`` into its listing and its aggregate."""
    from kinesis_vcr_spark.functions.estimate import estimate_agg
    from kinesis_vcr_spark.sources.archive import archive_listing
    from kinesis_vcr_spark.timeparse import day_range

    with ctx.tracer.span("estimate.listing") as sp_list:
        listing = archive_listing(ctx.spark, archive_path, start, end)
    with ctx.tracer.span("estimate.agg") as sp_agg:
        row = estimate_agg(listing).collect()[0]
    res.layers.update({
        "estimate.listing_s": sp_list.seconds,
        "estimate.agg_s": sp_agg.seconds,
        "estimate.files_listed": row["file_count"],
        "estimate.days_in_range": len(day_range(start, end)),
    })


# --------------------------------------------------------------------------
# corpus prep: the registered llm_prep_pipeline query
# --------------------------------------------------------------------------


class CorpusPrepWorkload(Workload):
    name = "corpus_prep"

    #: gen_testdata scale factor: 5,000 documents
    SF = 0.1

    def __init__(self):
        self.seed = 0
        self.corpus_dir = ""
        self.oracle = None

    def make_inputs(self, seed, out_dir):
        # The prime pass runs on this same corpus: the query's cold cost
        # barely depends on its size, and a smaller prime left the first
        # timed build still warming (7-9 s of CPU against 6-7 s).
        self.seed = seed
        self.corpus_dir = inputs.make_corpus(seed, out_dir, self.SF)
        self.oracle = None

    def _oracle(self, ctx):
        """DuckDB answer of the query's registered oracle SQL; it depends
        only on the seed and scale, so it is computed once per checkout."""
        import duckdb
        import pandas as pd

        from kinesis_vcr_spark.queries import all_queries

        path = os.path.join(ctx.cache, f"corpus_prep-sf{self.SF:g}-seed{self.seed}.json")
        if not os.path.exists(path):
            con = duckdb.connect()
            try:
                con.execute(
                    f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{self.corpus_dir}/documents.parquet'")
                df = con.execute(all_queries()["llm_prep_pipeline"].oracle).fetchdf()
            finally:
                con.close()
            df.to_json(path + ".tmp", orient="split", index=False)
            os.replace(path + ".tmp", path)
        return pd.read_json(path, orient="split", dtype=False)

    def run_pass(self, ctx, tag, full_check, prime=False):
        from kinesis_vcr_spark.queries import all_queries

        query = all_queries()["llm_prep_pipeline"]
        res = PassResult(tag)
        df = self._call(
            ctx, res, "prep.build", lambda: query.spark_fn(ctx.spark, self.corpus_dir))
        got = self._call(ctx, res, "prep.collect", df.toPandas)
        if ctx.traced:
            res.layers["prep.plan_ms"] = probe.plan_ms(df)
            res.layers["prep.exchanges"] = probe.exchange_count(df)
        with ctx.tracer.span("check"):
            if self.oracle is None:
                self.oracle = self._oracle(ctx)
            mismatched, problems = compare_group_counts(got, self.oracle)
            res.problems.extend(problems)
            docs = int(self.oracle["n_docs"].sum())
            res.attempted += docs
            res.failed += mismatched
            res.items["docs"] = docs
        return res

    def e2e(self, passes):
        docs = passes[0].items["docs"]
        return {
            "prep_docs_per_s": (
                docs / _median(p.seconds["prep.build"] + p.seconds["prep.collect"] for p in passes),
                "docs/s"),
        }


KEYS = ["source", "status", "split"]


def compare_group_counts(got, want) -> tuple[int, list[str]]:
    """Compare per-(source, status, split) document counts the way
    ``tools/oracle_check.py`` does; when they differ, the documents in
    the wrong group are failed operations: half the L1 distance of the
    counts (a document moved between two groups shows in both).

    Returns (mismatched documents, problems). A problem is a difference
    that is not a per-document relabeling: other columns, or a different
    number of documents in total."""
    from tools.oracle_check import normalize

    problems = []
    if sorted(got.columns) != sorted(want.columns):
        return 0, [f"corpus_prep: columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) == len(want) and normalize(got).equals(normalize(want)):
        return 0, problems
    if int(got["n_docs"].sum()) != int(want["n_docs"].sum()):
        problems.append(
            f"corpus_prep: {int(got['n_docs'].sum())} documents labeled, "
            f"oracle {int(want['n_docs'].sum())}")
    merged = got.merge(want, on=KEYS, how="outer", suffixes=("_spark", "_oracle")).fillna(0)
    l1 = (merged["n_docs_spark"] - merged["n_docs_oracle"]).abs().sum()
    return int((l1 + 1) // 2), problems


def build(name: str) -> Workload:
    if name == "large_records":
        return RecordsWorkload()
    if name == "corpus_prep":
        return CorpusPrepWorkload()
    raise SystemExit(f"unknown workload: {name}")


WORKLOADS = ("large_records", "corpus_prep")
