"""Multimodal queries — binary payload analytics + the Arrow-batched
feature-extraction path (see
:mod:`kinesis_vcr_spark.operators.multimodal`).

``multimodal_payload_stats`` is pure relational work over binary
columns (byte lengths, content digests) → exact DuckDB oracle.
``multimodal_features`` runs the mapInPandas decode path with the
deterministic fake decoder → registered WITH an oracle too, because the
fake decoder's arithmetic (sqrt-width, mean byte value) is reproducible
in SQL over the same utf-8 payload bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_vcr_spark.operators.multimodal import (
    documents_as_media,
    extract_media_features,
)
from kinesis_vcr_spark.queries import QuerySpec, register
from kinesis_vcr_spark.tables import load_table


def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stats over opaque binary payloads: counts, byte
    totals, distinct content digests — the dedup-on-binary primitive."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return (
        docs.select(
            "source",
            F.length(payload).alias("nbytes"),
            F.sha2(payload, 256).alias("digest"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_payloads"),
            F.sum("nbytes").alias("total_bytes"),
            F.countDistinct("digest").alias("n_distinct"),
        )
        .orderBy("source")
    )


PAYLOAD_STATS_SQL = """
SELECT source,
       count(*) AS n_payloads,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       count(DISTINCT sha256(text)) AS n_distinct
FROM documents GROUP BY source ORDER BY source
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake-decode feature extraction (mapInPandas) over
    document payloads treated as media blobs."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_media_features(documents_as_media(docs))
    return feats.select(
        "media_id",
        "payload_bytes",
        "width",
        "height",
        F.round("mean_value", 6).alias("mean_value"),
    ).orderBy("media_id")


# fake_decode mirror: width = floor(sqrt(n)), height = n // width,
# mean = sum(bytes)/n. Byte values recovered from the blob's hex dump.
FEATURES_SQL = """
WITH b AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT media_id,
       n AS payload_bytes,
       greatest(CAST(floor(sqrt(n)) AS BIGINT), 1) AS width,
       greatest(n // greatest(CAST(floor(sqrt(n)) AS BIGINT), 1), 1) AS height,
       round(CAST(list_reduce(list_transform(range(1, n + 1),
                 i -> (strpos('0123456789ABCDEF', substring(h, 2*i-1, 1)) - 1)
                      * 16
                      + strpos('0123456789ABCDEF', substring(h, 2*i, 1)) - 1),
             (a, x) -> a + x) AS DOUBLE) / n, 6) AS mean_value
FROM b ORDER BY media_id
"""


register(
    QuerySpec(
        "multimodal_payload_stats",
        multimodal_payload_stats,
        PAYLOAD_STATS_SQL,
        "binary payload stats: byte totals + content digests per source",
    )
)
register(
    QuerySpec(
        "multimodal_features",
        multimodal_features,
        FEATURES_SQL,
        "Arrow-batched (mapInPandas) media feature extraction, fake codec",
    )
)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the 1→N mapInPandas fan-out (every 4th
    32-byte frame), summarized per media: sampled-frame count and
    first/last frame sizes. The fake codec's frame geometry is pure
    arithmetic over payload byte length, so DuckDB reproduces it in
    closed form — verifying the exploded row set without Python."""
    from kinesis_vcr_spark.operators.multimodal import sample_frames

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=4)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.min_by("frame_bytes", "frame_idx").alias("first_bytes"),
            F.max_by("frame_bytes", "frame_idx").alias("last_bytes"),
        )
        .orderBy("media_id")
    )


FRAME_SAMPLE_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n
  FROM documents
),
geo AS (
  SELECT media_id, n,
         greatest((n + 31) // 32, 1) AS total_frames
  FROM m
),
s AS (
  SELECT media_id, n,
         (total_frames + 3) // 4 AS n_frames,
         4 * ((total_frames - 1) // 4) AS last_idx
  FROM geo
)
SELECT media_id, n_frames,
       least(32, n) AS first_bytes,
       least(32, n - last_idx * 32) AS last_bytes
FROM s ORDER BY media_id
"""


register(
    QuerySpec(
        "multimodal_frame_sample",
        multimodal_frame_sample,
        FRAME_SAMPLE_SQL,
        "1→N frame sampling via mapInPandas, geometry oracle-verified",
    )
)


# --- perceptual image dedup (operators/phash.py, VERDICT r09 item 4):
# planted byte-identical payload twins — identical payload → identical
# pixels (fake decoder is a pure function of bytes) → identical pHash →
# Hamming 0 and a guaranteed pigeonhole candidate, so the expected pair
# set is exact SQL even though the searcher is approximate. Same
# pattern as dedup_simhash_planted / the ANN planted companions. ---

PHASH_PLANT_MOD = 10
PHASH_PLANT_OFFSET = 10_000_000


def image_phash_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup recall proof: every 10th document's
    payload gets a byte-identical twin at ``doc_id + 1e7``; the
    pHash pigeonhole pipeline (decode → DCT hash → block join →
    Hamming verify) must find exactly the (original, twin) pairs at
    Hamming 0. Restricting output to ``id_b == id_a + offset`` at
    Hamming 0 admits ONLY those pairs (a non-twin collision would need
    a natural doc_id above the offset, which no table has)."""
    from kinesis_vcr_spark.operators.phash import (
        fake_pixels,
        near_dup_pairs_phash,
    )

    docs = load_table(spark, sf_dir, "documents")
    twins = docs.where(F.col("doc_id") % PHASH_PLANT_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(PHASH_PLANT_OFFSET)
    )
    media = documents_as_media(docs.unionByName(twins))
    pairs = near_dup_pairs_phash(media, pixel_fn=fake_pixels, max_hamming=3)
    return (
        pairs.where(
            (F.col("id_b") == F.col("id_a") + F.lit(PHASH_PLANT_OFFSET))
            & (F.col("hamming") == 0)
        )
        .select("id_a", "id_b")
        .orderBy("id_a")
    )


PHASH_PLANTED_SQL = f"""
SELECT doc_id AS id_a, doc_id + {PHASH_PLANT_OFFSET} AS id_b
FROM documents WHERE doc_id % {PHASH_PLANT_MOD} = 0 ORDER BY id_a
"""

register(
    QuerySpec(
        "image_phash_planted",
        image_phash_planted,
        PHASH_PLANTED_SQL,
        "perceptual image dedup (DCT pHash + pigeonhole Hamming join): "
        "planted payload-twin recall, exact oracle",
    )
)


def image_phash_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental perceptual dedup through the persisted block index
    (operators/phash.py): the corpus is indexed once, a batch of
    payload-twins (every 10th document re-planted under ``id + 1e7``)
    is probed against it — each twin must pair with exactly its
    original at Hamming 0, recovered WITHOUT re-hashing the corpus.
    Same planted-exactness argument as :func:`image_phash_planted`;
    the index path adds the new×stored join and the ingest-scope
    machinery to the driver-checked surface."""
    import tempfile

    from kinesis_vcr_spark.operators.phash import (
        append_phash_index,
        fake_pixels,
        phash_probe_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    twins = docs.where(F.col("doc_id") % PHASH_PLANT_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(PHASH_PLANT_OFFSET)
    )
    idx = f"{tempfile.mkdtemp(prefix='phash_idx_')}/index"
    append_phash_index(
        documents_as_media(docs), idx,
        pixel_fn=fake_pixels, ingest_label="_base",
    )
    pairs = phash_probe_index(
        documents_as_media(twins), idx,
        pixel_fn=fake_pixels, max_hamming=3,
    )
    return (
        pairs.where(
            (F.col("id_b") == F.col("id_a") + F.lit(PHASH_PLANT_OFFSET))
            & (F.col("hamming") == 0)
        )
        .select("id_a", "id_b")
        .orderBy("id_a")
    )


register(
    QuerySpec(
        "image_phash_index_incremental",
        image_phash_index_incremental,
        PHASH_PLANTED_SQL,
        "persisted perceptual-hash index: corpus indexed once, planted "
        "payload-twin batch probed without re-hashing — exact oracle",
    )
)


def multimodal_real_codec_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A REAL codec under the exact-oracle gate (r10): every document
    becomes a deterministic 8x8 P6 PPM whose 192 pixel bytes are the
    ascii hex of the text's sha256 repeated three times, decoded by the
    real PPM decoder through the same Arrow ``mapInPandas`` path the
    BMP/PNG codecs ride (``real_decode``). Header dims and the
    mean pixel byte are reproducible in SQL from the same digest, and
    the mean is numerically EXACT on both engines: the 64-hex-char byte
    sum is an integer and /64 is a power-of-two division, so Spark's
    numpy mean and DuckDB's sum/64 land on the identical double."""
    from kinesis_vcr_spark.operators.multimodal import real_decode

    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit(b"P6 8 8 255\n"),
        F.encode(F.repeat(F.sha2(F.encode("text", "utf-8"), 256), 3),
                 "utf-8"),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = extract_media_features(media, decoder=real_decode)
    return feats.select(
        "media_id",
        "payload_bytes",
        "width",
        "height",
        F.round("mean_value", 6).alias("mean_value"),
    ).orderBy("media_id")


REAL_CODEC_SQL = """
WITH b AS (
  SELECT doc_id AS media_id, sha256(text) AS h FROM documents
)
SELECT media_id,
       CAST(203 AS BIGINT) AS payload_bytes,
       CAST(8 AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       round(CAST(list_reduce(list_transform(range(1, 65),
                 i -> ascii(substring(h, CAST(i AS INTEGER), 1))),
             (a, x) -> a + x) AS DOUBLE) / 64, 6) AS mean_value
FROM b ORDER BY media_id
"""


register(
    QuerySpec(
        "multimodal_real_codec_features",
        multimodal_real_codec_features,
        REAL_CODEC_SQL,
        "REAL image codec (P6 PPM) under the exact oracle: "
        "deterministic digest-pixel payloads through real_decode",
    )
)


def warc_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-archive ingestion under the exact oracle (r10, E100): each
    source's documents are packed into a deterministic in-memory WARC
    file (one HTTP response record per document, doc_id-ordered), the
    file goes through the REAL parser (`operators/webarchive.py` —
    the same `warc_records` mapInPandas explosion the WARC stream
    runs on binaryFile scans), and per-source record counts / payload
    bytes / distinct payload digests / HTTP-status accounting must
    reproduce what DuckDB computes from the documents table directly."""
    import hashlib

    import pandas as pd

    from kinesis_vcr_spark.operators.webarchive import warc_records

    docs = load_table(spark, sf_dir, "documents")

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        out = bytearray()
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            body = str(text).encode("utf-8")
            status = 200 if doc_id % 7 else 404
            http = (
                f"HTTP/1.1 {status} X\r\nContent-Type: text/plain\r\n\r\n"
            ).encode() + body
            hdr = (
                "WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: urn:doc:{doc_id}\r\n"
                "Content-Type: application/http;msgtype=response\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode()
            out += hdr + http + b"\r\n\r\n"
        return pd.DataFrame(
            {"path": [str(pdf["source"].iloc[0])], "content": [bytes(out)]}
        )

    files = docs.groupBy("source").applyInPandas(
        build, "path string, content binary"
    )
    recs = warc_records(files)
    return (
        recs.select(
            F.col("source_file").alias("source"),
            "payload_bytes",
            "http_status",
            F.sha2("payload", 256).alias("digest"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_records"),
            F.sum("payload_bytes").alias("total_payload_bytes"),
            F.countDistinct("digest").alias("n_distinct_payloads"),
            F.sum(
                F.when(F.col("http_status") == 200, 1).otherwise(0)
            ).alias("n_http_ok"),
        )
        .orderBy("source")
    )


WARC_INGEST_SQL = """
SELECT source,
       count(*) AS n_records,
       CAST(sum(octet_length(encode(text))) AS BIGINT)
           AS total_payload_bytes,
       count(DISTINCT sha256(text)) AS n_distinct_payloads,
       CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_http_ok
FROM documents GROUP BY source ORDER BY source
"""


register(
    QuerySpec(
        "warc_ingest_stats",
        warc_ingest_stats,
        WARC_INGEST_SQL,
        "WARC ingestion (ISO 28500 parse + HTTP envelope split) under "
        "the exact oracle: per-source record/byte/digest accounting",
    )
)


# ---------------------------------------------------------------------------
# FLAC under the exact oracle (E108, r13)
# ---------------------------------------------------------------------------

FLAC_A, FLAC_B, FLAC_MOD = 7919, 104729, 65536  # closed-form PCM rule
FLAC_N_BASE, FLAC_N_MOD = 64, 37


def multimodal_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAC decoder (operators/flac.py, E108) under the exact
    value oracle, the ``multimodal_real_codec_features`` pattern: every
    document becomes a deterministic mono 16-bit PCM stream by a
    closed-form rule both engines can evaluate —
    ``s_i = (doc_id·7919 + i·104729) mod 65536 − 32768`` for
    ``i < 64 + doc_id mod 37`` — which the Spark side ENCODES with the
    spec-rule encoder and DECODES with the real FLAC decoder (Rice
    residuals, CRC-8/16, and the STREAMINFO PCM-MD5 enforced) inside
    one Arrow batch, while the oracle computes the identical stats
    straight from the rule. A single wrong decoded sample flips the
    MD5 check (raise) or the mean (hash mismatch) — the decode chain
    has nowhere to hide.

    Exactness: the |sample| sum is an integer (exact in float64), /n
    is the same IEEE division on both engines, /32768 is a
    power-of-two scale — bit-identical doubles before the 6-dp round.
    Plan: one pruned scan → ONE ArrowEvalPython stage (encode+decode
    per batch; numpy PCM synthesis, pure-Python codec) → presentation
    sort. No join, no aggregate; decode parallelism = input splits."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import (  # noqa: PLC0415
        PandasUDFType,
        pandas_udf,
    )

    # explicit functionType: `from __future__ import annotations`
    # stringifies hints, which the decorator form cannot resolve here
    # (pd is function-local) — same pattern as bench.py's warm-up UDF
    def flac_roundtrip_fn(doc_ids):
        from kinesis_vcr_spark.operators.flac import (  # noqa: PLC0415
            decode_flac,
            encode_flac,
        )

        ns, means = [], []
        for did in doc_ids.to_numpy():
            n = FLAC_N_BASE + int(did) % FLAC_N_MOD
            i = np.arange(n, dtype=np.int64)
            pcm = (int(did) * FLAC_A + i * FLAC_B) % FLAC_MOD - 32768
            payload = encode_flac(pcm[:, None], 8000, bits=16,
                                  block_size=256)
            n_out, ch, _sr, _bits, out = decode_flac(payload)  # MD5 enforced
            assert ch == 1
            ns.append(n_out)
            means.append(float(np.abs(out).mean()) / 32768.0)
        return pd.DataFrame({"n_samples": ns, "mean_value": means})

    flac_roundtrip = pandas_udf(
        flac_roundtrip_fn,
        "struct<n_samples: bigint, mean_value: double>",
        PandasUDFType.SCALAR,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", flac_roundtrip(F.col("doc_id")).alias("r"))
        .select(
            "doc_id",
            F.col("r.n_samples").alias("n_samples"),
            # round JVM-side so both engines apply their SQL round to
            # the same exact double (Python round is half-to-even)
            F.round(F.col("r.mean_value"), 6).alias("mean_value"),
        )
        .orderBy("doc_id")
    )


FLAC_FEATURES_SQL = f"""
WITH s AS (
  SELECT doc_id,
         {FLAC_N_BASE} + doc_id % {FLAC_N_MOD} AS n,
         list_transform(range(0, {FLAC_N_BASE} + doc_id % {FLAC_N_MOD}),
             i -> abs((doc_id * {FLAC_A} + i * {FLAC_B}) % {FLAC_MOD}
                      - 32768)) AS a
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       round(CAST(list_reduce(a, (x, y) -> x + y) AS DOUBLE) / n / 32768,
             6) AS mean_value
FROM s ORDER BY doc_id
"""


register(
    QuerySpec(
        "multimodal_flac_features",
        multimodal_flac_features,
        FLAC_FEATURES_SQL,
        "REAL FLAC codec under the exact oracle: closed-form PCM "
        "encoded by the spec-rule encoder, decoded by the real "
        "decoder with the STREAMINFO MD5 enforced",
    )
)
