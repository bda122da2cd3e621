"""Multimodal plumbing: mapInPandas schema/batching, stub decoders."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from kinesis_vcr_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_audio,
    decode_image,
    documents_as_media,
    extract_media_features,
    fake_decode,
    real_decode,
)
from kinesis_vcr_spark.tables import load_table


def test_stub_decoders_raise():
    # JPEG/GIF/TIFF decode in-repo (tests/test_jpeg.py, test_gif.py,
    # test_tiff.py): a truncated stream must fail loudly
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg")  # no SOS scan
    with pytest.raises(ValueError):
        decode_image(b"GIF89a" + b"\x00" * 4)  # truncated header
    with pytest.raises(ValueError):
        decode_image(b"II*\x00 truncated tiff")
    # WebP, every audio container but PCM WAV/FLAC and all video are
    # the Decoder seam and say so
    with pytest.raises(NotImplementedError, match="Decoder"):
        decode_image(b"RIFF1234WEBPVP8 \x00\x00\x00\x00")
    for audio in (
        b"RIFF",
        b".snd\x00\x00\x00\x18",  # AU
        b"FORM\x00\x00\x00\x04AIFF",
        b"OggS\x00\x02",
        b"ID3\x04\x00",  # MP3
        b"\xff\xf1\x50\x80",  # AAC ADTS
    ):
        with pytest.raises(NotImplementedError, match="Decoder"):
            decode_audio(audio)
    with pytest.raises(NotImplementedError, match="Decoder"):
        real_decode("video", b"\x00\x00\x00\x18ftypisom")


def test_fake_decode_deterministic():
    f1 = fake_decode("image", b"abcdef" * 100)
    f2 = fake_decode("image", b"abcdef" * 100)
    assert f1 == f2
    assert f1["width"] * f1["height"] <= 600
    audio = fake_decode("audio", b"x" * 640)
    assert audio["width"] == 20 and audio["height"] == 1


def test_extract_features_over_media(spark):
    rows = [
        Row(media_id=1, kind="image", payload=b"\x00\x01\x02\x03" * 25,
            meta={"fmt": "raw"}),
        Row(media_id=2, kind="audio", payload=b"\xff" * 64, meta={}),
        Row(media_id=3, kind="video", payload=b"", meta=None),
    ]
    media = spark.createDataFrame(rows)
    feats = {r["media_id"]: r for r in extract_media_features(media).collect()}
    assert feats[1]["payload_bytes"] == 100
    assert feats[1]["width"] == 10 and feats[1]["height"] == 10
    assert feats[1]["mean_value"] == 1.5
    assert feats[2]["mean_value"] == 255.0
    assert feats[3]["payload_bytes"] == 0 and feats[3]["mean_value"] == 0.0


def test_documents_as_media_schema(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "payload", "meta",
    ]
    feats = extract_media_features(media)
    row = feats.orderBy("media_id").first()
    assert row["payload_bytes"] > 0


def test_sample_frames_geometry(spark):
    from kinesis_vcr_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [
            (1, "video", b"x" * 100, {}),   # 4 frames: idx 0 kept (e=4)
            (2, "video", b"y" * 270, {}),   # 9 frames: idx 0,4,8 kept
            (3, "video", b"", {}),          # empty payload: 1 empty frame
        ],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    rows = {
        (r["media_id"], r["frame_idx"]): r
        for r in sample_frames(media, every_n=4).collect()
    }
    assert set(rows) == {(1, 0), (2, 0), (2, 4), (2, 8), (3, 0)}
    assert rows[(1, 0)]["frame_bytes"] == 32
    assert rows[(2, 8)]["frame_bytes"] == 270 - 8 * 32  # short tail
    assert rows[(3, 0)]["frame_bytes"] == 0
    assert rows[(2, 4)]["frame"] == b"y" * 32


def _ppm_bytes(w, h, pixel_fn):
    """Hand-rolled P6 PPM: pixel_fn(x, y) -> (r, g, b)."""
    body = bytearray()
    for y in range(h):
        for x in range(w):
            body.extend(pixel_fn(x, y))
    return f"P6\n{w} {h}\n255\n".encode() + bytes(body)


def _bmp_bytes(w, h, pixel_fn):
    """Hand-rolled uncompressed 24-bit BMP (bottom-up rows, 4-byte row
    padding — the parts a naive parser gets wrong)."""
    import struct

    row = w * 3
    stride = (row + 3) & ~3
    pixel_data = bytearray()
    for y in reversed(range(h)):  # BMP stores rows bottom-up
        for x in range(w):
            b, g, r = pixel_fn(x, y)[::-1]
            pixel_data.extend((b, g, r))
        pixel_data.extend(b"\x00" * (stride - row))
    data_off = 14 + 40
    size = data_off + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data),
                      2835, 2835, 0, 0)
    return header + dib + bytes(pixel_data)


def _wav_bytes(samples, framerate=8000):
    """Mono 16-bit PCM WAV from a list of int samples."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_real_ppm_decode():
    from kinesis_vcr_spark.operators.multimodal import decode_image

    # 2x2: known bytes -> exact mean
    img = _ppm_bytes(2, 2, lambda x, y: (10, 20, 30))
    got = decode_image(img)
    assert (got["width"], got["height"]) == (2, 2)
    assert got["mean_value"] == 20.0


def test_real_bmp_decode_respects_row_padding():
    from kinesis_vcr_spark.operators.multimodal import decode_image

    # width 3 -> 9-byte rows padded to 12; padding bytes must NOT leak
    # into the mean
    img = _bmp_bytes(3, 2, lambda x, y: (100, 100, 100))
    got = decode_image(img)
    assert (got["width"], got["height"]) == (3, 2)
    assert got["mean_value"] == 100.0


def test_real_wav_decode():
    from kinesis_vcr_spark.operators.multimodal import decode_audio

    wav = _wav_bytes([0, 16384, -16384, 32767])
    got = decode_audio(wav)
    assert (got["width"], got["height"]) == (4, 1)  # frames, channels
    expected = (0 + 16384 + 16384 + 32767) / 4 / 32768.0
    assert abs(got["mean_value"] - expected) < 1e-12


def test_real_decoders_through_map_in_pandas(spark):
    """End-to-end: real codecs run inside the Arrow/mapInPandas path."""
    from kinesis_vcr_spark.operators.multimodal import (
        extract_media_features,
        real_decode,
    )

    rows = [
        Row(media_id=1, kind="image",
            payload=_ppm_bytes(2, 2, lambda x, y: (10, 20, 30)), meta={}),
        Row(media_id=2, kind="image",
            payload=_bmp_bytes(3, 2, lambda x, y: (100, 100, 100)), meta={}),
        Row(media_id=3, kind="audio",
            payload=_wav_bytes([0, 16384, -16384, 32767]), meta={}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in extract_media_features(media, decoder=real_decode).collect()
    }
    assert (got[1]["width"], got[1]["height"], got[1]["mean_value"]) == (2, 2, 20.0)
    assert (got[2]["width"], got[2]["height"], got[2]["mean_value"]) == (3, 2, 100.0)
    assert got[3]["width"] == 4 and got[3]["height"] == 1


# ---------------------------------------------------------------------------
# PNG decode (VERDICT r04 item 4): stdlib zlib + unfilter, no PIL
# ---------------------------------------------------------------------------


def _png_bytes(arr, filters):
    """INDEPENDENT minimal PNG encoder for the round-trip oracle: apply
    the requested RFC 2083 filter to each scanline (one filter id per
    row, cycled), deflate, wrap in chunks. Written from the spec, not
    from the decoder under test."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    lines = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        a = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        b = prev
        c = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - a
        elif f == 2:
            filt = cur - b
        elif f == 3:
            filt = cur - (a + b) // 2
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            filt = cur - pred
        lines.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filters", [(0,), (1,), (2,), (3,), (4,),
                                     (0, 1, 2, 3, 4)])
def test_png_roundtrip_every_filter(filters):
    """Each scanline filter (None/Sub/Up/Average/Paeth) and a mixed
    cycle reconstruct the RGB pixels bit-exactly."""
    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(11, 13, 3), dtype=np.uint8)
    w, h, got = _png_parse(_png_bytes(arr, filters))
    assert (w, h) == (13, 11)
    np.testing.assert_array_equal(got, arr)


@pytest.mark.parametrize("ch", [1, 2, 4])
def test_png_gray_and_alpha_channels(ch):
    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    rng = np.random.default_rng(ch)
    arr = rng.integers(0, 256, size=(6, 9, ch), dtype=np.uint8)
    w, h, got = _png_parse(_png_bytes(arr, (0, 1, 2, 3, 4)))
    assert (w, h, got.shape[2]) == (9, 6, ch)
    np.testing.assert_array_equal(got, arr)


def test_png_through_decode_image_and_spark(spark):
    """decode_image dispatches PNG by signature; the real decoder runs
    end-to-end through extract_media_features' mapInPandas path."""
    import numpy as np
    from pyspark.sql import Row

    from kinesis_vcr_spark.operators.multimodal import real_decode

    arr = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    png = _png_bytes(arr, (4,))
    feats = decode_image(png)
    assert (feats["width"], feats["height"]) == (5, 4)
    assert feats["mean_value"] == float(arr.mean())

    media = spark.createDataFrame(
        [Row(media_id=1, kind="image", payload=bytearray(png), meta={})],
        MEDIA_SCHEMA,
    )
    out = extract_media_features(media, real_decode).collect()[0]
    assert (out.width, out.height) == (5, 4)
    assert out.mean_value == float(arr.mean())


def _png_encode(arr, depth=8, color_type=None, interlace=0,
                filters=(0, 1, 2, 3, 4), plte=None, trns=None):
    """INDEPENDENT general PNG encoder for the round-trip oracle:
    native samples (uint8/uint16 grid ``[h, w, ch]`` — palette index
    grids use ch=1 with ``color_type=3``), packed at any legal bit
    depth, filtered per scanline (one filter id per row, cycled,
    fresh context per Adam7 pass), deflated, wrapped in chunks.
    Written from RFC 2083, not from the decoder under test."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = arr.shape
    if color_type is None:
        color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = max(1, ch * depth // 8)

    def pack_rows(sub):
        ph, pw, _ = sub.shape
        flat = sub.reshape(ph, pw * ch).astype(np.uint16)
        if depth == 8:
            return flat.astype(np.uint8)
        if depth == 16:
            hi = (flat >> 8).astype(np.uint8)
            lo = (flat & 255).astype(np.uint8)
            return np.stack([hi, lo], axis=2).reshape(ph, pw * ch * 2)
        bits = (
            (flat[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
        ).reshape(ph, -1).astype(np.uint8)
        return np.packbits(bits, axis=1)

    def filter_rows(rows):
        stride = rows.shape[1]
        out = []
        prev = np.zeros(stride, np.int32)
        for y in range(rows.shape[0]):
            cur = rows[y].astype(np.int32)
            f = filters[y % len(filters)]
            a = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])[:stride]
            b = prev
            c = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])[:stride]
            if f == 0:
                filt = cur
            elif f == 1:
                filt = cur - a
            elif f == 2:
                filt = cur - b
            elif f == 3:
                filt = cur - (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                )
                filt = cur - pred
            out.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
            prev = cur
        return b"".join(out)

    if interlace == 0:
        body = filter_rows(pack_rows(arr))
    else:
        passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                  (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        body = b"".join(
            filter_rows(pack_rows(arr[y0::dy, x0::dx]))
            for x0, y0, dx, dy in passes
            if arr[y0::dy, x0::dx].size
        )

    def chunk(ctype, data):
        cbody = ctype + data
        return struct.pack(">I", len(data)) + cbody + struct.pack(
            ">I", zlib.crc32(cbody) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    parts = [b"\x89PNG\r\n\x1a\n", chunk(b"IHDR", ihdr)]
    if plte is not None:
        parts.append(chunk(b"PLTE", np.asarray(plte, np.uint8).tobytes()))
    if trns is not None:
        parts.append(chunk(b"tRNS", bytes(trns)))
    parts.append(chunk(b"IDAT", zlib.compress(body)))
    parts.append(chunk(b"IEND", b""))
    return b"".join(parts)


@pytest.mark.parametrize(
    "size", [(11, 13), (3, 3), (8, 8), (1, 10), (10, 1), (9, 20)]
)
def test_png_adam7_matches_sequential(size):
    """Adam7-interlaced decode reconstructs the same pixels as the
    plain encoding of the same array, at every edge size (passes that
    are empty at small w/h must be skipped exactly)."""
    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    h, w = size
    rng = np.random.default_rng(h * 100 + w)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    gw, gh, got = _png_parse(_png_encode(arr, interlace=1))
    assert (gw, gh) == (w, h)
    np.testing.assert_array_equal(got, arr)


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_16bit_roundtrip(ch):
    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    rng = np.random.default_rng(16 + ch)
    arr = rng.integers(0, 65536, size=(5, 7, ch), dtype=np.uint16)
    w, h, got = _png_parse(_png_encode(arr, depth=16, filters=(0, 1, 2, 3, 4)))
    assert got.dtype == np.uint16
    np.testing.assert_array_equal(got, arr)


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_subbyte_gray_scales_exactly(depth):
    """1/2/4-bit grayscale unpacks MSB-first and rescales by the exact
    255/(2^d−1) factor (255 is divisible by 1, 3, and 15)."""
    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    rng = np.random.default_rng(depth)
    vals = rng.integers(0, 1 << depth, size=(6, 11, 1), dtype=np.uint8)
    w, h, got = _png_parse(
        _png_encode(vals, depth=depth, color_type=0, filters=(0, 2))
    )
    np.testing.assert_array_equal(
        got, (vals * (255 // ((1 << depth) - 1))).astype(np.uint8)
    )


@pytest.mark.parametrize("depth", [4, 8])
@pytest.mark.parametrize("with_trns", [False, True])
def test_png_palette_resolves(depth, with_trns):
    """Palette indices resolve through PLTE (tRNS appends alpha,
    padded with 255 for entries past the table)."""
    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    rng = np.random.default_rng(depth + with_trns)
    n = 1 << depth
    plte = rng.integers(0, 256, size=(n, 3), dtype=np.uint8)
    idx = rng.integers(0, n, size=(7, 9, 1), dtype=np.uint8)
    trns = [0, 128] if with_trns else None
    w, h, got = _png_parse(
        _png_encode(idx, depth=depth, color_type=3, plte=plte, trns=trns,
                    filters=(0, 1, 2))
    )
    expected = plte[idx[:, :, 0]]
    if with_trns:
        alpha = np.full(n, 255, np.uint8)
        alpha[:2] = [0, 128]
        expected = np.dstack([expected, alpha[idx[:, :, 0]][:, :, None]])
    np.testing.assert_array_equal(got, expected)


def test_png_adam7_16bit_and_palette():
    """Interlace composes with non-8-bit sample packing: each pass
    packs its own scanlines, so sub-byte/16-bit strides differ per
    pass width."""
    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    rng = np.random.default_rng(42)
    arr16 = rng.integers(0, 65536, size=(9, 6, 1), dtype=np.uint16)
    _, _, got16 = _png_parse(_png_encode(arr16, depth=16, interlace=1))
    np.testing.assert_array_equal(got16, arr16)

    plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(10, 11, 1), dtype=np.uint8)
    _, _, gotp = _png_parse(
        _png_encode(idx, depth=4, color_type=3, plte=plte, interlace=1)
    )
    np.testing.assert_array_equal(gotp, plte[idx[:, :, 0]])


def test_png_invalid_variants_raise():
    """Illegal header combos and truncated pixel data are loud
    ValueErrors (all legal PNGs now decode — no NotImplemented left)."""
    import struct
    import zlib

    import numpy as np

    from kinesis_vcr_spark.operators.multimodal import _png_parse

    def header(depth, color_type, interlace=0):
        def chunk(ctype, data):
            body = ctype + data
            return struct.pack(">I", len(data)) + body + struct.pack(
                ">I", zlib.crc32(body) & 0xFFFFFFFF
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color_type, 0, 0, interlace)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
            + chunk(b"IEND", b"")
        )

    with pytest.raises(ValueError, match="bit depth"):
        _png_parse(header(16, 3))  # 16-bit palette is illegal
    with pytest.raises(ValueError, match="bit depth"):
        _png_parse(header(4, 2))  # sub-byte RGB is illegal
    with pytest.raises(ValueError, match="color type"):
        _png_parse(header(8, 5))
    with pytest.raises(ValueError, match="PLTE"):
        _png_parse(header(8, 3))  # palette declared but no PLTE chunk
    arr = np.zeros((3, 3, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="truncated"):
        _png_parse(_truncate_idat(arr))


def _edit_idat(png, edit):
    """The PNG with its IDAT chunk data replaced by ``edit(data)``
    (length and CRC rewritten)."""
    import struct
    import zlib

    i = png.index(b"IDAT") - 4
    length = struct.unpack_from(">I", png, i)[0]
    data = edit(png[i + 8 : i + 8 + length])
    body = b"IDAT" + data
    new_chunk = struct.pack(">I", len(data)) + body + struct.pack(
        ">I", zlib.crc32(body) & 0xFFFFFFFF
    )
    return png[:i] + new_chunk + png[i + 12 + length :]


def _truncate_idat(arr):
    """Rebuild the PNG with an IDAT that inflates to too few bytes."""
    import zlib

    short = zlib.compress(b"\x00" * 5)
    return _edit_idat(_png_bytes(arr, (0,)), lambda _: short)


def test_extract_features_null_quarantine(spark):
    """on_error='null': malformed payloads become NULL feature rows
    instead of task failures; valid rows are unaffected."""
    from pyspark.sql import Row

    from kinesis_vcr_spark.operators.multimodal import (
        extract_media_features,
        real_decode,
    )

    import numpy as np

    ppm = b"P6 2 2 255\n" + bytes(range(12))
    # headers that declare no pixels: each parser accepts them, so the
    # dispatch must reject them instead of averaging an empty array
    def px(x, y):
        return (1, 2, 3)

    zero_size = [
        b"P6 0 0 255\n",
        b"P6 4 0 255\n",
        _bmp_bytes(0, 2, px),
        _bmp_bytes(3, 0, px),
        _bmp_bytes(-5, 2, px),
        _png_bytes(np.zeros((2, 0, 3), np.uint8), (0,)),
        _png_bytes(np.zeros((0, 2, 3), np.uint8), (0,)),
    ]
    for payload in zero_size:
        with pytest.raises(ValueError, match="no pixels"):
            decode_image(payload)
    rows = [
        Row(media_id=1, kind="image", payload=ppm, meta=None),
        Row(media_id=2, kind="image", payload=b"P6 garbage", meta=None),
        Row(media_id=3, kind="image", payload=b"RIFF1234WEBPVP8 \x00\x00\x00\x00",
            meta=None),
    ] + [
        Row(media_id=10 + i, kind="image", payload=p, meta=None)
        for i, p in enumerate(zero_size)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in extract_media_features(
            media, decoder=real_decode, on_error="null"
        ).collect()
    }
    assert got[1]["width"] == 2 and got[1]["height"] == 2
    assert got[2]["width"] is None and got[2]["mean_value"] is None
    assert got[3]["width"] is None
    for i in range(len(zero_size)):
        assert got[10 + i]["width"] is None
        assert got[10 + i]["mean_value"] is None
    assert got[2]["payload_bytes"] == 10  # provenance fields survive
    # default stays strict
    import pytest as _pytest

    with _pytest.raises(Exception):
        extract_media_features(media, decoder=real_decode).collect()


def test_quarantine_catches_bitstream_truncation_artifacts(spark):
    """ADVICE r10 regression: crawl-garbage payloads whose parse dies
    with a truncation artifact (struct.error on a BMP cut inside its
    header) must null under on_error='null' instead of killing the
    Spark task, while a valid row in the same batch still decodes."""
    import struct as _struct

    cut_bmp = b"BM\x00\x00"
    with pytest.raises(_struct.error):
        decode_image(cut_bmp)
    rows = [
        Row(media_id=1, kind="image", payload=cut_bmp, meta=None),
        Row(media_id=2, kind="image", payload=b"P6 2 2 255\n" + bytes(12),
            meta=None),
    ]
    got = _features_null(spark, rows)
    assert got[1]["width"] is None
    assert got[2]["width"] == 2 and got[2]["height"] == 2


def _features_null(spark, rows):
    """media_id → feature row of real_decode under on_error='null'."""
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return {
        r["media_id"]: r
        for r in extract_media_features(
            media, decoder=real_decode, on_error="null"
        ).collect()
    }


def test_corrupt_png_stream_is_malformed_and_quarantined(spark):
    """A PNG whose IDAT deflate stream is cut short raises ValueError
    (not zlib.error, which is outside MALFORMED_ERRORS), so it nulls
    under on_error='null' next to a valid PNG row."""
    import numpy as np

    arr = (np.arange(6 * 8 * 3) % 251).astype(np.uint8).reshape(6, 8, 3)
    png = _png_bytes(arr, (0,))
    cut = _edit_idat(png, lambda d: d[:-6])  # deflate stream ends early
    with pytest.raises(ValueError, match="corrupt PNG"):
        decode_image(cut)
    got = _features_null(spark, [
        Row(media_id=1, kind="image", payload=png, meta=None),
        Row(media_id=2, kind="image", payload=cut, meta=None),
    ])
    assert got[1]["width"] == 8 and got[1]["height"] == 6
    assert got[2]["width"] is None and got[2]["mean_value"] is None


def test_huge_interlaced_png_header_is_malformed(spark):
    """A 69-byte Adam7 PNG that declares 2^30 x 2^30 RGB is rejected as
    truncated before any canvas is allocated from the header, so it
    nulls under on_error='null' instead of raising MemoryError."""
    import struct
    import zlib

    def chunk(ctype, data):
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", zlib.crc32(ctype + data) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", 1 << 30, 1 << 30, 8, 2, 0, 0, 1)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"\x00" * 4)) + chunk(b"IEND", b""))
    assert len(png) == 69
    with pytest.raises(ValueError, match="truncated"):
        decode_image(png)
    got = _features_null(spark, [
        Row(media_id=1, kind="image", payload=png, meta=None),
    ])
    assert got[1]["width"] is None and got[1]["mean_value"] is None


def test_malformed_and_non_pcm_wav_are_quarantined(spark):
    """The stdlib ``wave`` errors map onto the quarantine contract: a
    ``fmt `` chunk size pointing past the payload (wave's chunk seek
    raises a bare RuntimeError) is a ValueError, and a format tag no
    in-repo decoder reads (MPEG-in-WAV) is the NotImplementedError
    slot; both null under on_error='null' next to a valid PCM WAV
    row."""
    import struct

    wav = _wav_bytes([0, 1000, -1000, 2000])
    past_end = bytearray(wav)
    past_end[18] = 0xCB  # fmt chunk size high byte
    mpeg_wav = bytearray(wav)
    mpeg_wav[20:22] = struct.pack("<H", 0x55)  # WAVE_FORMAT_MPEGLAYER3
    with pytest.raises(ValueError, match="malformed WAV"):
        decode_audio(bytes(past_end))
    with pytest.raises(NotImplementedError, match="0x0055"):
        decode_audio(bytes(mpeg_wav))
    got = _features_null(spark, [
        Row(media_id=1, kind="audio", payload=wav, meta=None),
        Row(media_id=2, kind="audio", payload=bytes(past_end), meta=None),
        Row(media_id=3, kind="audio", payload=bytes(mpeg_wav), meta=None),
    ])
    assert got[1]["width"] == 4 and got[1]["height"] == 1
    assert got[2]["width"] is None
    assert got[3]["width"] is None
