"""Perceptual image hashing (pHash / dHash) + Hamming near-dup pairs —
image-level near-duplicate detection composed from the in-repo image
dispatch (operators/multimodal.py ``decode_pixels``) and the
pigeonhole-blocked Hamming engine (operators/dedup.py
``near_dup_pairs_hash64``).

Text near-dup catches re-posted articles; CRAWLED IMAGE corpora need
the pixel-level analogue: the same photo re-encoded (PNG → JPEG),
re-scaled, or brightness-shifted has a different byte digest but the
same *perceptual* content. The two classic hashes, both public
algorithms (Zauner 2010, "Implementation and Benchmarking of
Perceptual Image Hash Functions"; the widely-replicated ImageHash
formulation):

- **pHash (DCT)**: grayscale → area-resize to 32×32 → orthonormal 2-D
  DCT-II → keep the 8×8 low-frequency block → bit i = coefficient i >
  median of the 64 kept coefficients. Robust to re-scaling and
  re-encoding (high-frequency detail never enters the hash).
- **dHash (gradient)**: grayscale → area-resize to 9×8 → bit = left
  pixel > right neighbor (row-major). Cheaper, robust to uniform
  brightness/contrast shifts (only the gradient SIGN is kept).

Everything is deterministic integer/float math pinned by fixture
tests (spec-rule style): the resize is exact area-weighted averaging
(interval-overlap matrices — no library
resampler to drift against), grayscale is Rec.601, the DCT basis is
the orthonormal closed form. The Spark surface is one Arrow-batched
``mapInPandas`` producing ``(media_id, phash, dhash)`` — numpy per
batch, never per-row Python — and near-dup pairs reuse the EXACT
pigeonhole machinery already pinned for SimHash, so the same
recall-guarantee argument applies: any pair within Hamming
``blocks − 1`` shares a block and becomes a candidate with certainty.

100 TB posture: hashing is embarrassingly parallel over payloads (one
decode per image, Arrow-batched); the pair stage joins 8-byte hashes
on 16-bit block values — Θ(n·blocks) candidate rows against hot-block
caps, the measured SimHash shape, never all-pairs on pixels.

Reference anchor: the reference engine has no image surface
(SURVEY.md §2.5a E-series extension).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from kinesis_vcr_spark.cacheutil import hold
from kinesis_vcr_spark.operators.dedup import near_dup_pairs_hash64
from kinesis_vcr_spark.operators.multimodal import decode_pixels

#: pHash DCT input size and kept low-frequency block (the standard
#: 32→8 shape: 64 hash bits).
PHASH_DCT_SIZE = 32
PHASH_BLOCK = 8

#: dHash grid — 9 columns × 8 rows of gradients = 64 bits.
DHASH_W, DHASH_H = 9, 8

HASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("phash", LongType(), True),
        StructField("dhash", LongType(), True),
    ]
)

#: ``pixel_fn(payload) -> np.ndarray`` — [h, w] grayscale or
#: [h, w, channels] uint8/float pixels.
PixelFn = Callable[[bytes], np.ndarray]


def to_grayscale(px: np.ndarray) -> np.ndarray:
    """Rec.601 luma as float64 [h, w]; alpha (channel 4) is ignored,
    2-D input passes through."""
    px = np.asarray(px, dtype=np.float64)
    if px.ndim == 2:
        return px
    if px.ndim == 3 and px.shape[2] >= 3:
        return (
            0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        )
    if px.ndim == 3 and px.shape[2] == 1:
        return px[:, :, 0]
    raise ValueError(f"unsupported pixel shape {px.shape}")


@lru_cache(maxsize=1024)
def _overlap_matrix(n_in: int, n_out: int) -> np.ndarray:
    """[n_out, n_in] exact area-average weights: output bin i covers
    the input interval [i·n_in/n_out, (i+1)·n_in/n_out); each input
    pixel contributes its overlap fraction. Rows sum to 1. Works in
    both directions (down- and up-sampling) — this is the
    deterministic resampler the module contract pins.

    Broadcast form of the original per-cell loop — identical IEEE
    operations per cell (``min(hi, j+1) − max(lo, j)``, then ``/scale``)
    so the weights are bit-identical; memoized because a hashing pass
    builds the same few shapes for every image of a given size. The
    cached array is read-only (matmul operand) by every caller."""
    scale = n_in / n_out
    i = np.arange(n_out, dtype=np.float64)[:, None]
    j = np.arange(n_in, dtype=np.float64)[None, :]
    lo = i * scale
    hi = (i + 1) * scale
    w = np.minimum(hi, j + 1) - np.maximum(lo, j)
    mask = (j >= np.floor(lo)) & (j < np.minimum(np.ceil(hi), n_in))
    return np.where(mask, w, 0.0) / scale


def area_resize(gray: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Exact area-weighted resize of a [h, w] float image."""
    h, w = gray.shape
    return _overlap_matrix(h, out_h) @ gray @ _overlap_matrix(w, out_w).T


def _dct_basis(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis: C[k, m] = s_k·cos(π(2m+1)k / 2n)."""
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    c = np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    c[0] *= np.sqrt(1.0 / n)
    c[1:] *= np.sqrt(2.0 / n)
    return c


_DCT32 = _dct_basis(PHASH_DCT_SIZE)


def _bits_to_int64(bits: np.ndarray) -> int:
    """Row-major bit i → hash bit i, as a SIGNED 64-bit int (Spark
    LongType; bit 63 lands in the sign bit). ``packbits`` with
    little-endian bit order packs bit i into byte i//8's 2^(i%8) slot —
    exactly the ``v |= 1 << i`` loop it replaces."""
    packed = np.packbits(bits.ravel().astype(np.uint8), bitorder="little")
    v = int.from_bytes(packed.tobytes(), "little")
    return v - (1 << 64) if v >= 1 << 63 else v


def phash64(px: np.ndarray) -> int:
    """DCT perceptual hash of a pixel array (module docstring rules)."""
    small = area_resize(to_grayscale(px), PHASH_DCT_SIZE, PHASH_DCT_SIZE)
    coefs = _DCT32 @ small @ _DCT32.T
    block = coefs[:PHASH_BLOCK, :PHASH_BLOCK]
    return _bits_to_int64(block > np.median(block))


def dhash64(px: np.ndarray) -> int:
    """Gradient perceptual hash: 9×8 grid, bit = px[y,x] > px[y,x+1]."""
    small = area_resize(to_grayscale(px), DHASH_W, DHASH_H)
    return _bits_to_int64(small[:, :-1] > small[:, 1:])


def real_pixels(payload: bytes) -> np.ndarray:
    """Decode an image payload to its pixel array through the in-repo
    image dispatch (:func:`~kinesis_vcr_spark.operators.multimodal.
    decode_pixels`: PPM/BMP/PNG)."""
    return decode_pixels(payload)[2]


def fake_pixels(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: reshape the payload bytes to the same
    floor-sqrt grid as multimodal.fake_decode — exercises the full
    hash/near-dup pipeline on the text-only test corpus with
    reproducible hashes (identical payloads → identical pixels →
    identical hashes; the planted driver query's invariant)."""
    n = len(payload)
    if n == 0:
        return np.zeros((1, 1), dtype=np.float64)
    w = max(int(n**0.5), 1)
    h = max(n // w, 1)
    return (
        np.frombuffer(payload[: w * h], dtype=np.uint8)
        .reshape(h, w)
        .astype(np.float64)
    )


def perceptual_hashes(
    media: DataFrame, pixel_fn: PixelFn = real_pixels
) -> DataFrame:
    """``(media_id, phash, dhash)`` for a MEDIA_SCHEMA frame — one
    Arrow-batched ``mapInPandas`` pass, numpy per payload. Undecodable
    payloads fail loudly (the codec family's contract); pre-filter or
    wrap ``pixel_fn`` to quarantine."""

    def hash_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ph, dh = [], []
            for p in pdf["payload"]:
                px = pixel_fn(bytes(p) if p is not None else b"")
                ph.append(phash64(px))
                dh.append(dhash64(px))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "phash": ph, "dhash": dh}
            )

    return media.select("media_id", "payload").mapInPandas(
        hash_batches, HASH_SCHEMA
    )


def near_dup_pairs_phash(
    media: DataFrame,
    pixel_fn: PixelFn = real_pixels,
    hash_col: str = "phash",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Perceptual near-dup image pairs ``(id_a, id_b, hamming)`` at
    Hamming ≤ ``max_hamming`` over pHash (or dHash via ``hash_col``) —
    decode → hash → the SimHash-pinned pigeonhole block join."""
    hashes = perceptual_hashes(media, pixel_fn)
    return near_dup_pairs_hash64(
        hashes, "media_id", hash_col, max_hamming, blocks
    )


# ---------------------------------------------------------------------------
# persisted perceptual-hash index (incremental image dedup)
# ---------------------------------------------------------------------------
#
# The daily-ingest member of the E95 family (batch operator + persisted
# index, as for near-dup, ANN, exact-span and search). A crawl ingests a daily batch of images; re-hashing the
# accumulated corpus to find "which new images are perceptual dups of
# anything seen" is O(corpus) decode work for an O(batch) question.
# Instead the corpus's pigeonhole BLOCK rows are persisted once:
#
#   {path}/blocks/ingest=<label>/block_idx=<b> — one row per
#   (media_id, block): ``(media_id, h64, block_val)``. The full 64-bit
#   hash is DENORMALIZED into every block row, so a probe verifies
#   Hamming distance from the join output alone — no second fetch
#   stage against a hash table (the pHash analogue of the BM25
#   postings carrying dl).
#   {path}/meta — ``blocks`` and the hash column name; probes must
#   reuse the stamped layout (block rows from a different split are
#   incomparable).
#
# A probe LSHes only the batch (one Arrow-batched decode+hash pass),
# equi-joins the batch's block rows against the stored ones for
# new×old candidates, self-joins for new×new, and filters by exact
# Hamming — identical math to near_dup_pairs_hash64 over the union,
# restricted to pairs touching the batch (parity test-pinned).
# Appends are O(batch) and overwrite their own ingest scope
# (orchestrator-replay idempotent, the engine-wide scoped-state
# contract). 100 TB: the stored side is ~blocks rows × 20 B per image
# — for 10⁹ images ≈ 80 GB, shuffled once per probe by the candidate
# equi-join; batch-side rows are day-sized. media_id uniqueness across
# scopes is the caller's ingest key, as everywhere in the family.

_PHASH_META_SCHEMA = "blocks int, hash_col string"


def _block_rows(hashes: DataFrame, hash_col: str, blocks: int) -> DataFrame:
    """``(media_id, h64, block_idx, block_val)`` pigeonhole rows — the
    same split expression near_dup_pairs_hash64 joins on."""
    width = 64 // blocks
    mask = (1 << width) - 1
    return hashes.select(
        "media_id",
        F.col(hash_col).alias("h64"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_idx"),
                        F.shiftright(F.col(hash_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("blk"),
    ).select("media_id", "h64", "blk.block_idx", "blk.block_val")


def append_phash_index(
    media: DataFrame,
    index_path: str,
    *,
    pixel_fn: PixelFn = real_pixels,
    hash_col: str = "phash",
    blocks: int = 4,
    ingest_label: str = "_base",
) -> None:
    """Hash one batch and write its block rows as their own ``ingest``
    scope (overwrite-idempotent). The first append stamps the layout
    (``blocks``, ``hash_col``) in ``/meta``; later appends verify it —
    silently mixing block splits or hash kinds would corrupt every
    later probe."""
    spark = media.sparkSession
    stamped = _load_phash_meta(spark, index_path)
    if stamped is None:
        spark.createDataFrame(
            [(blocks, hash_col)], _PHASH_META_SCHEMA
        ).write.mode("overwrite").parquet(f"{index_path}/meta")
    elif stamped != (blocks, hash_col):
        raise ValueError(
            f"phash index at {index_path} was built with (blocks, "
            f"hash_col)={stamped}; append requested {(blocks, hash_col)}"
        )
    rows = _block_rows(perceptual_hashes(media, pixel_fn), hash_col, blocks)
    (
        rows.repartition("block_idx")
        .write.mode("overwrite")
        .partitionBy("block_idx")
        .parquet(f"{index_path}/blocks/ingest={ingest_label}")
    )


def _load_phash_meta(spark, index_path: str) -> tuple[int, str] | None:
    from kinesis_vcr_spark.fsutil import path_exists

    # existence-probe first: a first build's meta miss is a normal
    # event, and read-then-catch would dump a JVM AnalysisException
    # stack trace into the driver log before Python caught it
    if not path_exists(spark, f"{index_path}/meta"):
        return None
    try:
        m = spark.read.parquet(f"{index_path}/meta").collect()[0]
    except Exception:
        return None
    return (m["blocks"], m["hash_col"])


def phash_probe_index(
    media: DataFrame,
    index_path: str,
    *,
    pixel_fn: PixelFn = real_pixels,
    max_hamming: int = 3,
    exclude_ingest: str | None = None,
) -> DataFrame:
    """Perceptual near-dup pairs ``(id_a, id_b, hamming)`` touching the
    new batch — new×stored plus new×new, ``id_a < id_b``, Hamming ≤
    ``max_hamming`` — WITHOUT re-hashing the indexed corpus. Equals
    :func:`near_dup_pairs_hash64` over (stored ∪ batch) hashes
    restricted to pairs touching the batch (test-pinned); requires
    ``max_hamming < blocks`` exactly like the batch operator.

    ``exclude_ingest`` drops one scope partition-pruned — the
    crash-replay discipline shared with every index in the family.
    The batch's hashes are persisted (they cost a decode per image);
    liveness is bounded by :func:`kinesis_vcr_spark.cacheutil.hold`."""
    spark = media.sparkSession
    meta = _load_phash_meta(spark, index_path)
    if meta is None:
        raise ValueError(f"no phash index at {index_path}")
    blocks, hash_col = meta
    if max_hamming >= blocks:
        raise ValueError("max_hamming must be < blocks for exact recall")
    new_hashes = hold(
        "phash_probe_index", perceptual_hashes(media, pixel_fn)
    )
    new_rows = _block_rows(new_hashes, hash_col, blocks)
    stored = spark.read.parquet(f"{index_path}/blocks")
    if exclude_ingest is not None:
        stored = stored.where(F.col("ingest") != exclude_ingest)
    stored = stored.select("media_id", "h64", "block_idx", "block_val")
    left = new_rows.alias("l")
    cand_old = left.join(
        stored.alias("r"),
        (F.col("l.block_idx") == F.col("r.block_idx"))
        & (F.col("l.block_val") == F.col("r.block_val"))
        & (F.col("l.media_id") != F.col("r.media_id")),
    ).select(
        F.least("l.media_id", "r.media_id").alias("id_a"),
        F.greatest("l.media_id", "r.media_id").alias("id_b"),
        F.when(F.col("l.media_id") < F.col("r.media_id"), F.col("l.h64"))
        .otherwise(F.col("r.h64"))
        .alias("h_a"),
        F.when(F.col("l.media_id") < F.col("r.media_id"), F.col("r.h64"))
        .otherwise(F.col("l.h64"))
        .alias("h_b"),
    )
    cand_new = left.join(
        new_rows.alias("r2"),
        (F.col("l.block_idx") == F.col("r2.block_idx"))
        & (F.col("l.block_val") == F.col("r2.block_val"))
        & (F.col("l.media_id") < F.col("r2.media_id")),
    ).select(
        F.col("l.media_id").alias("id_a"),
        F.col("r2.media_id").alias("id_b"),
        F.col("l.h64").alias("h_a"),
        F.col("r2.h64").alias("h_b"),
    )
    from kinesis_vcr_spark.operators.dedup import hamming64

    return (
        cand_old.unionByName(cand_new)
        .distinct()
        .select(
            "id_a", "id_b", hamming64(F.col("h_a"), F.col("h_b")).alias(
                "hamming"
            )
        )
        .where(F.col("hamming") <= max_hamming)
    )
