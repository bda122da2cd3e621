"""Engine configuration — the reference's env-var config, Spark-shaped.

Mirrors ``VcrConfiguration.java:13-45``: required stream/bucket names,
buffer size/time defaults, validation that rejects missing required
values and non-positive buffer limits. Adds the Spark-side knobs the
reference had no equivalent for (checkpoint location, trigger interval,
replay parallelism).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DEFAULT_BUFFER_SIZE_BYTES = 1024 * 1024 * 100  # 100 MB (VcrConfiguration.java:13)
DEFAULT_BUFFER_TIME_MILLIS = 60_000  # 60 s (VcrConfiguration.java:15)

# Replay batch limits — Kinesis PutRecords API caps (KinesisPlayer.java:50-51)
MAX_BATCH_COUNT = 500
MAX_BATCH_BYTES = 1_000_000

# Put retry budget (KinesisPlayer.java:52)
PUT_RETRY_BUDGET_SECONDS = 30.0

# Replay write concurrency (KinesisPlayer.java:58)
DEFAULT_REPLAY_PARALLELISM = 10


@dataclass
class VcrConfig:
    """Validated configuration for record/play/estimate.

    ``source_stream`` doubles as the archive's top-level prefix
    (InjectableS3Emitter.java:37-42); ``archive_root`` is the bucket /
    filesystem root (URI-agnostic: ``s3a://bucket`` in prod, a local dir
    in tests — Spark file sources treat both identically).
    """

    archive_root: str
    source_stream: str
    target_stream: str | None = None
    buffer_size_bytes: int = DEFAULT_BUFFER_SIZE_BYTES
    buffer_time_millis: int = DEFAULT_BUFFER_TIME_MILLIS
    checkpoint_location: str | None = None
    replay_parallelism: int = DEFAULT_REPLAY_PARALLELISM

    def __post_init__(self) -> None:
        # VcrConfiguration.java:37-45 — required values present, limits positive
        if not self.archive_root:
            raise ValueError("archive_root (VCR_BUCKET equivalent) is required")
        if not self.source_stream:
            raise ValueError("source_stream (VCR_SOURCE_STREAM) is required")
        if self.buffer_size_bytes <= 0:
            raise ValueError("buffer_size_bytes must be positive")
        if self.buffer_time_millis <= 0:
            raise ValueError("buffer_time_millis must be positive")

    @property
    def archive_path(self) -> str:
        return f"{self.archive_root.rstrip('/')}/{self.source_stream}"

    @staticmethod
    def preflight_archive(spark, path: str) -> None:
        """X5: the archive must exist before starting. ``record`` checks
        ``archive_root``, as the reference checks its bucket
        (KinesisRecorder.java:38-40), because it creates the stream's
        prefix; ``play`` and the listing ``estimate`` check
        ``archive_path``, so a mistyped stream name fails instead of
        quoting an empty range (the reference checks only the bucket
        there too, KinesisPlayer.java:70-73). Uses the Hadoop FS of the
        path's scheme, so local dirs and s3a:// buckets behave
        identically."""
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        if not hpath.getFileSystem(conf).exists(hpath):
            raise FileNotFoundError(f"archive root does not exist: {path}")

    @staticmethod
    def preflight_stream(describe_stream, stream_name: str) -> None:
        """X5: the target stream must exist (KinesisPlayer.java:74-87).
        ``describe_stream`` is injectable like the sink factories; a
        missing stream surfaces as whatever the client raises."""
        describe_stream(StreamName=stream_name)

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "VcrConfig":
        """Build from VCR_* environment variables (VcrConfiguration.java:17-23)."""
        e = os.environ if env is None else env
        return cls(
            archive_root=e.get("VCR_BUCKET", ""),
            source_stream=e.get("VCR_SOURCE_STREAM", ""),
            target_stream=e.get("VCR_TARGET_STREAM") or None,
            buffer_size_bytes=int(
                e.get("VCR_BUFFER_SIZE_BYTES", DEFAULT_BUFFER_SIZE_BYTES)
            ),
            buffer_time_millis=int(
                e.get("VCR_BUFFER_TIME_MILLIS", DEFAULT_BUFFER_TIME_MILLIS)
            ),
            checkpoint_location=e.get("VCR_CHECKPOINT_LOCATION") or None,
        )
