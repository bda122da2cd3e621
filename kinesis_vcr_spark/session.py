"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (single JVM); production posture is a
multi-executor cluster — every setting here is chosen to be correct for
both (AQE on, UTC session timezone, Arrow enabled, shuffle partitions
sized to cores locally / overridable for a cluster).

Python workers fork from :mod:`kinesis_vcr_spark.pydaemon`
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. PySpark
refreshes the import caches on every task, and before CPython 3.12 that
re-parses all of ``pyspark.zip``'s directory in each zip importer: about
0.25 CPU-s per task however small the task. The daemon re-reads an
archive only when it has changed, so every Python task (Arrow and pandas
UDFs, ``mapInArrow``, RDD functions) sheds that fixed cost. The
package's parent directory is appended to
``spark.executorEnv.PYTHONPATH`` so the workers can start the daemon
whatever the driver's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the package: workers import the daemon from it
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "kinesis_vcr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults honour the driver environment: ``SPARK_GRAFT_CPUS`` sets local
    parallelism; on a real cluster pass ``master=None`` with a cluster
    deploy and a larger ``shuffle_partitions`` (rule of thumb: 2-3x total
    executor cores, or rely on AQE coalescing).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # scale runs (sf≥100 locally: hundreds of millions of rows per
        # shuffle) need more, smaller partitions so per-task hash
        # state fits the heap — AQE coalesces the excess right back on
        # small data, so the env override is safe to leave set
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # RFC-4648 (unchunked) base64, matching the reference's
        # java.util.Base64 standard encoder (S3RecorderPipeline.java:55)
        # and DuckDB's to_base64 — Spark 4 defaults to MIME chunking.
        .config("spark.sql.chunkBase64String.enabled", "false")
        # testdata events.parquet uses TIMESTAMP(NANOS): read as long
        # (kinesis_vcr_spark.tables normalizes back to timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate duplicates the generator child into a
        # pushed-down `size(child) > 0` filter. For a cheap array column
        # that's free pruning; for this engine's shingle pipelines the
        # child is transform(...)-over-split(...), and alias substitution
        # inlines the split INTO the HOF lambda inside the filter — the
        # interpreted per-element re-evaluation trap — so every
        # explode-of-shingles paid the whole shingle build twice, one
        # copy in slow form (measured: 2.9 s -> 0.24 s for the sf0.1
        # document shingle explode with the rule excluded). The rule
        # only ever ADDS a redundant filter; excluding it cannot change
        # results.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", "false")
    )
    # spark.driver.memory only takes effect BEFORE the JVM starts;
    # setting it on an already-running session's builder is a silent
    # no-op. When THIS process is the one launching the JVM (no active
    # SparkContext yet), size the local-mode heap for the data actually
    # being processed: PySpark's 1 GiB default OOMs local[32] at sf1.0
    # (32 concurrent tasks x Arrow batches >> 1 GiB; measured in the
    # r05 scale run). 4g is the measured sweet spot: sf1.0 runs clean
    # (zero OOMs, within noise of 16g), while an oversized heap is a
    # real cost on long many-query sessions — at 16g the JVM's RSS
    # grows unchecked between lazy GCs and evicts the parquet page
    # cache (full 108-query sf0.1 bench: 162 s at 16g vs 129 s at 2g).
    # SPARK_GRAFT_DRIVER_MEM overrides for bigger-than-sf1.0 local
    # runs. On a real cluster this path never fires — the launcher
    # (spark-submit) owns memory sizing.
    from pyspark import SparkContext  # noqa: PLC0415

    # public API first (getActiveSession); the private
    # _active_spark_context only as a getattr-guarded refinement for
    # the context-without-session window (ADVICE r05: don't depend on
    # a private attribute across PySpark versions)
    jvm_started = SparkSession.getActiveSession() is not None or (
        getattr(SparkContext, "_active_spark_context", None) is not None
    )
    if not jvm_started:
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
    # imported here, not at module level: ``python -m`` would otherwise
    # find the daemon module already imported by the package's __init__
    from kinesis_vcr_spark import pydaemon  # noqa: PLC0415

    conf = {"spark.python.daemon.module": pydaemon.__name__, **(extra_conf or {})}
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (conf.get(key), _PACKAGE_PARENT) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
