"""Data model: the record envelope, archive layout, and manifest.

The reference's unit of data is one Kinesis record — an opaque ``byte[]``
payload plus ordering/routing metadata (S3RecorderPipeline.java:47-57,
InjectableS3Emitter.java:63, KinesisPlayer.java:101). Here that is a fixed
DataFrame envelope with a ``BinaryType`` payload column; the schema system
stays implicit/opaque exactly as in the reference (README "Format": the
tool is "completely agnostic to the format of records on the wire").

Archive layout: the reference writes ``{stream}/{yyyy-MM-dd}/{first}-{last}``
(InjectableS3Emitter.java:37-42). We keep the queryable content identical
but use Hive-style partitioning (``dt=yyyy-MM-dd``) so Catalyst's file
index prunes partitions for free; the layout itself is defined in
:mod:`kinesis_vcr_spark.sources.archive`. The sequence ranges are also
recorded in a sidecar **manifest** table (SURVEY.md §7.4 decision 1).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: One stream record (FIXTURES.md §1). ``data`` is opaque binary.
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("data", T.BinaryType(), False),
        T.StructField("sequence_number", T.StringType(), True),
        T.StructField("partition_key", T.StringType(), True),
        T.StructField("shard_id", T.StringType(), True),
        T.StructField("arrival_ts", T.TimestampType(), True),
    ]
)

#: Sidecar manifest, one row per ``{firstSeq}-{lastSeq}`` archive file
#: (InjectableS3Emitter.java:63), as the record path writes it to parquet.
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.StringType(), True),
        T.StructField("dt", T.DateType(), True),
        T.StructField("file_path", T.StringType(), True),
        T.StructField("first_seq", T.StringType(), True),
        T.StructField("last_seq", T.StringType(), True),
        T.StructField("record_count", T.LongType(), True),
        T.StructField("byte_size", T.LongType(), True),
    ]
)
