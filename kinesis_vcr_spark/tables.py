"""Loaders for the synthetic test tables (TESTDATA.md / FIXTURES.md §3).

Centralizes two environment quirks so every query sees clean schemas
regardless of which SparkSession it runs under (the correctness driver
supplies its own session, so these confs are (re)applied at load time):

- ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which
  Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]). We read it
  via ``spark.sql.legacy.parquet.nanosAsLong`` and expose BOTH the exact
  ``ts_ns`` long (for boundary-exact filtering) and a microsecond
  ``ts`` TimestampType (for date math / windows).
- base64 must be RFC-4648 unchunked to match java.util.Base64 and
  DuckDB's ``to_base64`` (``spark.sql.chunkBase64String.enabled=false``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _apply_session_quirks(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.chunkBase64String.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # see session.py: InferFiltersFromGenerate re-evaluates expensive
    # generator children (shingle pipelines) in a duplicated filter with
    # the tokenize inlined into the HOF lambda — 12x slower explodes.
    # Re-applied here because the correctness driver brings its own
    # session.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )


def widen_small_scan(df: DataFrame) -> DataFrame:
    """Repartition a scan that produced fewer splits than cores.

    The fixture parquet files are written as a SINGLE row group, so
    Spark scans each as ONE split no matter what
    ``files.maxPartitionBytes`` says — and every downstream per-row
    stage (shingling, md5, Pandas-UDF matmuls) serializes on one core
    (measured: the sf0.1 documents shingle+hash pass alone was 2.7 s
    single-task, ~0.1 s widened). At production scale inputs scan as
    ≥cores splits and this is a no-op; on under-split inputs the one
    round-robin shuffle of a small table buys full-cluster parallelism
    for everything above it. Semantically neutral: every operator in
    this engine is partition-layout independent by design (hash-ticket
    sampling, deterministic tiebreaks, salt re-aggregation).

    Callers opt in per query: an A/B sweep over all 31 document
    queries showed only the shingle-explode-heavy ones win (overlap
    sketch 4.3→1.8 s, winnowing 5.2→1.7 s, n-gram Jaccard 7.6→5.8 s,
    PII regex 0.8→0.4 s at sf0.1) — everything scan+agg-shaped pays
    more for the round-robin shuffle than the parallelism returns, so
    widening inside ``load_table`` itself was a net loss."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table with normalized schema.

    ``events.ts`` has shipped in two physical forms across driver
    testdata generations — parquet TIMESTAMP(NANOS) (read as int64 via
    ``nanosAsLong``) and parquet timestamp[us] (read as TIMESTAMP_NTZ).
    Both normalize to the same exposed pair: exact int64 ``ts_ns``
    (boundary-exact filtering; DuckDB oracles use ``epoch_ns(ts)``)
    plus a microsecond TimestampType ``ts`` for calendar operations.
    """
    _apply_session_quirks(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            # nanosAsLong left ts as int64 nanos.
            df = df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        else:
            # timestamp[us] storage; session tz is pinned UTC, so the
            # NTZ→TZ cast is wall-clock-identical on every executor.
            df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
                "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
            )
    return df
