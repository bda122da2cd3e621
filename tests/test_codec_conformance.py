"""Cross-engine codec conformance: the in-repo image decoders against
the JVM's ``javax.imageio`` reference codecs (PNG/GIF/BMP/TIFF/JPEG),
reached through Spark's own py4j gateway — no extra dependency.

WHY this suite exists: round-trip tests whose fixtures come from an
in-repo encoder cannot see a bug the encoder and decoder share (a
wrong code-length-code order once passed every round trip of a
since-removed WebP decoder), so this suite adds an INDEPENDENT
real-world encoder for each container: images are
shipped to the JVM as BMP bytes (single py4j transfer), re-encoded by
ImageIO into the target format, and the repo decoder must reproduce
the pixels — bit-exactly for the lossless formats, within the JPEG
spec's IDCT tolerance for JPEG (different conformant decoders may
differ by a few codes per sample).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest


def _bmp_bytes(px: np.ndarray) -> bytes:
    """Minimal 24-bit BI_RGB BMP writer (bottom-up, padded rows) —
    the pixel bus into the JVM."""
    h, w, _ = px.shape
    row = w * 3
    stride = (row + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        line = px[y, :, ::-1].tobytes()  # BGR
        body += line + b"\x00" * (stride - row)
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                    2835, 2835, 0, 0)
    return bytes(header) + bytes(body)


class _JvmCodec:
    def __init__(self, spark):
        self.jvm = spark._jvm

    def _read(self, payload: bytes):
        bis = self.jvm.java.io.ByteArrayInputStream(payload)
        img = self.jvm.javax.imageio.ImageIO.read(bis)
        assert img is not None, "ImageIO failed to read"
        return img

    def _write(self, img, fmt: str, quality: float | None = None) -> bytes:
        baos = self.jvm.java.io.ByteArrayOutputStream()
        if quality is None:
            ok = self.jvm.javax.imageio.ImageIO.write(img, fmt, baos)
            assert ok, f"ImageIO cannot write {fmt}"
        else:
            writers = self.jvm.javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
            writer = writers.next()
            param = writer.getDefaultWriteParam()
            param.setCompressionMode(
                self.jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT
            )
            param.setCompressionQuality(float(quality))
            ios = self.jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
            writer.setOutput(ios)
            writer.write(
                None, self.jvm.javax.imageio.IIOImage(img, None, None), param
            )
            ios.flush()
            writer.dispose()
        return bytes(baos.toByteArray())

    def transcode(self, px: np.ndarray, fmt: str,
                  quality: float | None = None) -> bytes:
        """numpy RGB -> (BMP bus) -> JVM image -> target format bytes."""
        return self._write(self._read(_bmp_bytes(px)), fmt, quality)

    def decode_rgb(self, payload: bytes) -> np.ndarray:
        """Reference decode of any ImageIO-readable payload back to
        numpy RGB, via the BMP bus (re-render into TYPE_INT_RGB so
        gray/palette images come back as RGB)."""
        img = self._read(payload)
        w, h = img.getWidth(), img.getHeight()
        BufferedImage = self.jvm.java.awt.image.BufferedImage
        canvas = BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        g = canvas.createGraphics()
        g.drawImage(img, 0, 0, None)
        g.dispose()
        bmp = self._write(canvas, "bmp")
        from kinesis_vcr_spark.operators.multimodal import _bmp_parse

        bw, bh, arr = _bmp_parse(bmp)
        px = arr.reshape(bh, bw, 3)[::-1, :, ::-1]  # bottom-up BGR -> RGB
        return np.ascontiguousarray(px)


@pytest.fixture(scope="module")
def jcodec(spark):
    return _JvmCodec(spark)


def _images():
    rng = np.random.default_rng(11)
    out = []
    for (w, h) in ((16, 16), (9, 7), (1, 13), (64, 48)):
        yy, xx = np.mgrid[0:h, 0:w]
        grad = np.stack([(xx * 9) % 256, (yy * 7) % 256,
                         ((xx + yy) * 5) % 256], axis=-1).astype(np.uint8)
        out.append((f"gradient_{w}x{h}", grad))
        out.append((
            f"noise_{w}x{h}",
            rng.integers(0, 256, (h, w, 3), dtype=np.uint8),
        ))
    return out


def test_png_conformance(jcodec):
    from kinesis_vcr_spark.operators.multimodal import _png_parse

    for name, px in _images():
        payload = jcodec.transcode(px, "png")
        w, h, got = _png_parse(payload)
        assert (w, h) == (px.shape[1], px.shape[0]), name
        assert np.array_equal(np.asarray(got).reshape(px.shape), px), name


def test_bmp_conformance(jcodec):
    from kinesis_vcr_spark.operators.multimodal import _bmp_parse

    for name, px in _images():
        payload = jcodec.transcode(px, "bmp")
        w, h, arr = _bmp_parse(payload)
        got = arr.reshape(h, w, 3)[::-1, :, ::-1]
        assert np.array_equal(got, px), name


def test_gif_conformance(jcodec):
    # the repo decoder must agree with ImageIO's own decode of the
    # same stream (the writer may quantize, so the stream is the
    # ground truth, not the input pixels)
    from kinesis_vcr_spark.operators.gif import gif_decode

    for name, px in _images():
        payload = jcodec.transcode(px, "gif")
        assert payload[:4] == b"GIF8"
        ref = jcodec.decode_rgb(payload)
        w, h, got = gif_decode(payload)
        got = np.asarray(got).reshape(ref.shape)
        assert np.array_equal(got, ref), name


def test_tiff_conformance(jcodec):
    from kinesis_vcr_spark.operators.tiff import tiff_decode

    for name, px in _images():
        payload = jcodec.transcode(px, "tiff")
        ref = jcodec.decode_rgb(payload)
        w, h, got = tiff_decode(payload)
        got = np.asarray(got).reshape(ref.shape)
        assert np.array_equal(got, ref), name


def test_jpeg_conformance(jcodec):
    # JPEG decode is not bit-specified (ITU T.83 bounds IDCT error);
    # conformant decoders may differ by a few codes per sample. Bound
    # both the per-sample and mean divergence from ImageIO's decode.
    from kinesis_vcr_spark.operators.jpeg import jpeg_decode

    for quality in (0.3, 0.75, 0.95):
        for name, px in _images():
            payload = jcodec.transcode(px, "jpeg", quality)
            assert payload[:2] == b"\xff\xd8"
            ref = jcodec.decode_rgb(payload).astype(np.int32)
            w, h, got = jpeg_decode(payload)
            got = np.asarray(got).reshape(ref.shape).astype(np.int32)
            diff = np.abs(got - ref)
            if min(px.shape[0], px.shape[1]) == 1:
                # degenerate 1-px dimension: the reference falls back
                # from triangular to replication chroma upsampling on
                # this shape; conventions legitimately diverge
                assert diff.mean() <= 16.0, (name, quality)
                continue
            assert diff.max() <= 24, (name, quality, int(diff.max()))
            assert diff.mean() <= 1.0, (name, quality, float(diff.mean()))


def test_jpeg_grayscale_dct_core_conformance(jcodec):
    # grayscale removes chroma upsampling/conversion from the picture:
    # the Huffman + dequant + IDCT core must agree with the reference
    # decoder at the IDCT-variance level (|d| <= 2)
    from kinesis_vcr_spark.operators.jpeg import jpeg_decode

    jvm = jcodec.jvm
    BufferedImage = jvm.java.awt.image.BufferedImage
    for name, px in _images():
        img = jcodec._read(_bmp_bytes(px))
        h, w, _ = px.shape
        gray = BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        g = gray.createGraphics()
        g.drawImage(img, 0, 0, None)
        g.dispose()
        payload = jcodec._write(gray, "jpeg", 0.75)
        ref = jcodec.decode_rgb(payload).astype(np.int32)[..., 0]
        dw, dh, got = jpeg_decode(payload)
        got = np.asarray(got).reshape(ref.shape).astype(np.int32)
        assert np.abs(got - ref).max() <= 2, name


def test_png_exotic_color_types_conformance(jcodec):
    # palette / 16-bit gray / 1-bit binary PNGs as real encoders emit
    # them: re-render the RGB image into the exotic BufferedImage type
    # JVM-side, write PNG, and require pixel parity with ImageIO's own
    # decode of that stream
    from kinesis_vcr_spark.operators.multimodal import _png_parse

    jvm = jcodec.jvm
    BufferedImage = jvm.java.awt.image.BufferedImage
    types = {
        "indexed": BufferedImage.TYPE_BYTE_INDEXED,   # palette PNG
        "gray16": BufferedImage.TYPE_USHORT_GRAY,     # 16-bit gray PNG
        "binary": BufferedImage.TYPE_BYTE_BINARY,     # 1-bit PNG
        "gray8": BufferedImage.TYPE_BYTE_GRAY,
        "argb": BufferedImage.TYPE_INT_ARGB,          # RGBA PNG
    }
    for name, px in _images()[:4]:
        src = jcodec._read(_bmp_bytes(px))
        h, w, _ = px.shape
        for tname, jtype in types.items():
            img = BufferedImage(w, h, jtype)
            g = img.createGraphics()
            g.drawImage(src, 0, 0, None)
            g.dispose()
            payload = jcodec._write(img, "png")
            ref = jcodec.decode_rgb(payload)
            pw, ph, got = _png_parse(payload)
            assert (pw, ph) == (w, h), (name, tname)
            got = np.asarray(got)
            if got.ndim == 3 and got.shape[2] == 1:
                got = got[..., 0]
            if got.ndim == 2:  # gray -> RGB for comparison
                if got.dtype == np.uint16:
                    got = (got >> 8).astype(np.uint8)  # match drawImage's
                    # 16->8 rendering only approximately; compare high bytes
                    ref8 = ref[..., 0]
                    assert np.abs(got.astype(int) - ref8.astype(int)).max() <= 1, (
                        name, tname)
                    continue
                got = np.stack([got] * 3, axis=-1)
            if got.shape[2] == 4:
                got = got[..., :3]
            assert np.array_equal(got.reshape(ref.shape), ref), (name, tname)
