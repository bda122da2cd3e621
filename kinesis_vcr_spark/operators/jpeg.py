"""JPEG decoder (baseline + progressive) — stdlib + numpy, no PIL.

Closes the common real-world image slots in the multimodal decode
family: :func:`kinesis_vcr_spark.operators.multimodal.decode_image`
already handles PPM/BMP/PNG with stdlib codecs; this module adds
ITU-T T.81 Huffman DCT JPEG — 8-bit samples, grayscale or YCbCr (JFIF)
with any h/v chroma subsampling (4:4:4, 4:2:2, 4:2:0, ...), restart
markers, in BOTH of the modes that occur in practice:

- baseline/extended sequential (SOF0/SOF1), including multi-scan
  non-interleaved sequential streams, and
- progressive (SOF2, Annex G): spectral selection + successive
  approximation — interleaved DC first/refinement scans,
  single-component AC first scans with EOB runs, and AC refinement
  scans with correction bits.

Arithmetic coding, 12-bit precision, lossless, and hierarchical modes
raise ``NotImplementedError`` — they are vanishingly rare in training
corpora and are the documented PIL escape hatch.

Architecturally the decoder is scan-accumulating (the shape libjpeg
uses): every scan decodes into per-component zigzag coefficient
arrays; dequantization + IDCT + upsampling + color conversion happen
once at EOI. Baseline streams take the same path with a single scan,
so both modes share one reconstruction and one set of numerics.

Scope note (matches the family contract in multimodal.py): this is the
CORRECTNESS decoder for the Spark-side plumbing — schema, Arrow batch
shape, partitioning — and for environments without PIL. The entropy
decode is a per-bit Python loop (the IDCT, dequantize, upsample, and
color-convert stages are numpy), so a production deployment decoding
billions of images should register a PIL/libjpeg-turbo-backed Decoder;
swapping it changes only the UDF body, never the plan.

Verification strategy (tests/test_jpeg.py): (a) hand-assembled streams
with analytically-known pixels (a DC-only block decodes to an exact
flat value); (b) roundtrips against an independent minimal encoder
(forward DCT + custom DHT tables) with PSNR bounds — the encoder
deliberately emits NON-standard Huffman tables so the decoder's DHT
handling is exercised on arbitrary valid tables, not just Annex K's;
(c) for progressive: any scan script that completes spectral coverage
and refines to Al=0 reconstructs the SAME quantized coefficients as
the sequential encoding of the same image, so progressive decodes are
asserted BIT-IDENTICAL to the baseline decode — an exact oracle, not
a PSNR bound.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag order: _ZZ[i] = natural (row-major) index of the i-th
# coefficient in zigzag scan order — generated, not a literal (T.81
# Figure 5: anti-diagonals, odd diagonals walk row-increasing)
_ZZ = np.array(
    [
        r * 8 + (s - r)
        for s in range(15)
        for r in (
            range(max(0, s - 7), min(s, 7) + 1)
            if s % 2
            else range(min(s, 7), max(0, s - 7) - 1, -1)
        )
    ],
    dtype=np.int64,
)

# orthonormal 8x8 DCT-II matrix: spatial = A.T @ coeffs @ A
_A = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8)
    for _n in range(8):
        _A[_k, _n] = _c * np.cos((2 * _n + 1) * _k * np.pi / 16)


def _idct2(block: np.ndarray) -> np.ndarray:
    return _A.T @ block @ _A


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; restart markers are handled by the caller
    segmenting the stream."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                # past the end: T.81 pads with 1-bits
                return 1
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                # caller already removed stuffing; a bare FF here is
                # padding before a marker
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1
                else:
                    return 1
            self.bitbuf = b
            self.nbits = 8
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude to its signed
    value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


class _Huff:
    """Canonical Huffman decode table from DHT (bits[16], vals)."""

    def __init__(self, bits: list[int], vals: bytes):
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read_bit()
            sym = self.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _find_scan_end(payload: bytes, start: int) -> int:
    i = start
    while i + 1 < len(payload):
        if payload[i] == 0xFF and payload[i + 1] not in (0x00,) and not (
            0xD0 <= payload[i + 1] <= 0xD7
        ):
            return i
        i += 1
    return len(payload)


def _split_restarts(scan: bytes) -> list[bytes]:
    """Entropy-coded segments between RSTn markers (predictors, EOB
    runs, and bit alignment all restart at each boundary)."""
    out = []
    i = last = 0
    while i + 1 < len(scan):
        if scan[i] == 0xFF and 0xD0 <= scan[i + 1] <= 0xD7:
            out.append(scan[last:i])
            i += 2
            last = i
        else:
            i += 1
    out.append(scan[last:])
    return out


def _decode_block_seq(br, dc, ac, blk, pred: int) -> int:
    """Sequential full-band block decode (T.81 F.2.2) into zigzag
    coefficient row ``blk``; returns the updated DC predictor."""
    t = dc.decode(br)
    pred += _extend(br.receive(t), t)
    blk[0] = pred
    k = 1
    while k < 64:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past block end")
        blk[k] = _extend(br.receive(s), s)
        k += 1
    return pred


def _decode_ac_first(br, ac, blk, ss, se, al, eobrun: int) -> int:
    """Progressive AC first scan for one block (T.81 G.1.2.2):
    band coefficients arrive scaled by 2^Al; EOB symbols start runs of
    whole all-zero-band blocks. Returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac.decode(br)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1  # this block is the run's first
            if r:
                eobrun += br.receive(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _extend(br.receive(s), s) << al
        k += 1
    return eobrun


def _refine_nonzero(br, blk, k: int, p1: int, m1: int) -> None:
    """Append one correction bit to an already-nonzero coefficient
    (T.81 G.1.2.3): a 1-bit increases the magnitude by 2^Al if that
    bit position is still clear."""
    if br.read_bit() and (int(blk[k]) & p1) == 0:
        blk[k] += p1 if blk[k] >= 0 else m1


def _decode_ac_refine(br, ac, blk, ss, se, al, eobrun: int) -> int:
    """Progressive AC refinement scan for one block (T.81 G.1.2.3,
    figure G.7 decode side — the shape libjpeg's decode_mcu_AC_refine
    implements): newly-nonzero coefficients arrive as ±2^Al, runs
    count ZERO-HISTORY positions only, and every already-nonzero
    position passed over consumes one correction bit. Blocks inside an
    EOB run still consume correction bits for their nonzero history.
    Returns the remaining EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = ac.decode(br)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break
                # r == 15: ZRL — skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError(
                        "invalid AC refinement magnitude (must be 1)"
                    )
                val = p1 if br.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    _refine_nonzero(br, blk, k, p1, m1)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        # remainder of this block's band: correction bits only
        while k <= se:
            if blk[k] != 0:
                _refine_nonzero(br, blk, k, p1, m1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(
    scan: bytes,
    order: list[dict],
    ss: int,
    se: int,
    ah: int,
    al: int,
    ri: int,
    progressive: bool,
    mcux: int,
    mcuy: int,
) -> None:
    """Decode one entropy-coded scan into the components' coefficient
    arrays. ``order`` carries per-component decode state: bound
    dc/ac tables, block-grid geometry, and the ``coef`` array."""
    interleaved = len(order) > 1
    if interleaved:
        n_units = mcux * mcuy  # unit = MCU
    else:
        c = order[0]
        n_units = c["bw_data"] * c["bh_data"]  # unit = one block

    segments = _split_restarts(scan) if ri else [scan]
    unit = 0
    for segdata in segments:
        br = _BitReader(segdata)
        pred = [0] * len(order)
        eobrun = 0
        limit = min(unit + ri, n_units) if ri else n_units
        while unit < limit:
            if interleaved:
                my, mx = divmod(unit, mcux)
                for ci, c in enumerate(order):
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blk = c["coef"][my * c["v"] + by,
                                            mx * c["h"] + bx]
                            pred[ci] = _decode_unit_dc(
                                br, c, blk, pred[ci], progressive, ah, al
                            ) if progressive else _decode_block_seq(
                                br, c["dc"], c["ac"], blk, pred[ci]
                            )
            else:
                c = order[0]
                by, bx = divmod(unit, c["bw_data"])
                blk = c["coef"][by, bx]
                if not progressive:
                    pred[0] = _decode_block_seq(
                        br, c["dc"], c["ac"], blk, pred[0]
                    )
                elif ss == 0:
                    pred[0] = _decode_unit_dc(
                        br, c, blk, pred[0], progressive, ah, al
                    )
                elif ah == 0:
                    eobrun = _decode_ac_first(
                        br, c["ac"], blk, ss, se, al, eobrun
                    )
                else:
                    eobrun = _decode_ac_refine(
                        br, c["ac"], blk, ss, se, al, eobrun
                    )
            unit += 1


def _decode_unit_dc(br, c, blk, pred: int, progressive: bool,
                    ah: int, al: int) -> int:
    """Progressive DC scan for one block: first scan (Ah=0) decodes
    the differential DC scaled by 2^Al; refinement scans (Ah>0) read
    one raw bit per block (no Huffman table involved)."""
    if ah == 0:
        t = c["dc"].decode(br)
        pred += _extend(br.receive(t), t)
        blk[0] = pred << al
    elif br.read_bit():
        blk[0] = int(blk[0]) | (1 << al)
    return pred


def jpeg_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """(width, height, uint8 array [h, w] gray or [h, w, 3] RGB)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _Huff] = {}
    frame = None
    progressive = False
    ri = 0
    saw_scan = False
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RSTn
            pos += 2
            continue
        if pos + 4 > len(payload):
            # struct.error here would escape the ValueError-catching
            # malformed-media quarantine paths (decode-and-skip loops)
            raise ValueError("JPEG segment truncated")
        seglen = struct.unpack_from(">H", payload, pos + 2)[0]
        seg = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq:
                    qt[tq] = np.frombuffer(
                        seg[i : i + 128], dtype=">u2"
                    ).astype(np.int64)
                    i += 128
                else:
                    qt[tq] = np.frombuffer(
                        seg[i : i + 64], dtype=np.uint8
                    ).astype(np.int64)
                    i += 64
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                huff[(tc, th)] = _Huff(bits, seg[i + 17 : i + 17 + n])
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive
            if frame is not None:
                raise ValueError("multiple JPEG frame headers")
            progressive = marker == 0xC2
            frame = _parse_frame(seg)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "non-Huffman-DCT JPEG mode (lossless/arithmetic/"
                "hierarchical) requires PIL"
            )
        elif marker == 0xDD:  # DRI
            ri = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG scan before frame header")
            order, ss, se, ah, al = _parse_scan_header(
                seg, frame, huff, progressive
            )
            scan_start = pos + 2 + seglen
            scan_end = _find_scan_end(payload, scan_start)
            _decode_scan(
                payload[scan_start:scan_end], order, ss, se, ah, al,
                ri, progressive, frame["mcux"], frame["mcuy"],
            )
            saw_scan = True
            pos = scan_end
            continue
        # APPn / COM / DNL: skipped by the generic advance
        pos += 2 + seglen
    if frame is None or not saw_scan:
        raise ValueError("JPEG has no SOS scan")
    return _reconstruct(frame, qt)


def _parse_frame(seg: bytes) -> dict:
    prec = seg[0]
    if prec != 8:
        raise NotImplementedError("only 8-bit JPEG supported")
    h = struct.unpack_from(">H", seg, 1)[0]
    w = struct.unpack_from(">H", seg, 3)[0]
    ncomp = seg[5]
    comps = []
    for ci in range(ncomp):
        cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
        comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        # padded interleaved block grid; non-interleaved scans cover
        # only the top-left ceil(comp_size/8) sub-grid (T.81 A.2.2)
        c["coef"] = np.zeros((mcuy * c["v"], mcux * c["h"], 64),
                             dtype=np.int64)
        comp_w = -(-w * c["h"] // hmax)  # ceil(w·h_i/hmax)
        comp_h = -(-h * c["v"] // vmax)
        c["bw_data"] = -(-comp_w // 8)
        c["bh_data"] = -(-comp_h // 8)
    return {"h": h, "w": w, "comps": comps, "hmax": hmax, "vmax": vmax,
            "mcux": mcux, "mcuy": mcuy}


def _parse_scan_header(seg, frame, huff, progressive):
    ns = seg[0]
    by_id = {c["id"]: c for c in frame["comps"]}
    order = []
    for ci in range(ns):
        cs, tdta = seg[1 + 2 * ci : 3 + 2 * ci]
        if cs not in by_id:
            raise ValueError(f"scan references unknown component {cs}")
        c = by_id[cs]
        td, ta = tdta >> 4, tdta & 0xF
        c["dc"] = huff.get((0, td))
        c["ac"] = huff.get((1, ta))
        order.append(c)
    ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    if progressive:
        if ss > se or se > 63:
            raise ValueError("invalid spectral selection band")
        if ss > 0 and ns != 1:
            raise ValueError("progressive AC scan must be single-component")
        needs_dc = ss == 0 and ah == 0
        needs_ac = ss > 0
    else:
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("sequential scan must cover the full band")
        needs_dc = needs_ac = True
    for c in order:
        if needs_dc and c["dc"] is None:
            raise ValueError("scan references undefined DC Huffman table")
        if needs_ac and c["ac"] is None:
            raise ValueError("scan references undefined AC Huffman table")
    return order, ss, se, ah, al


def _upsample(plane: np.ndarray, factor: int, axis: int) -> np.ndarray:
    """Chroma upsampling along one axis. Factor 2 uses triangular
    (centers-aligned 3/4–1/4) interpolation with edge replication —
    the convention of the de-facto-standard decoder ("fancy
    upsampling"), which the cross-engine conformance suite
    (tests/test_codec_conformance.py) measures against; other factors
    fall back to sample replication.

    DELIBERATE float approximation: libjpeg computes this in integer
    arithmetic with alternating bias, ``(3p+prev+1)>>2`` /
    ``(3p+nxt+2)>>2``, while this decoder keeps the planes in float
    through reconstruction and rounds once at the end — outputs may
    differ from libjpeg by ±1 LSB. The conformance harness is
    tolerance-based by design; this decoder does NOT claim bit parity
    with libjpeg."""
    if factor == 1:
        return plane
    if factor != 2:
        return np.repeat(plane, factor, axis)
    p = np.moveaxis(plane, axis, 0)
    prev = np.concatenate([p[:1], p[:-1]])
    nxt = np.concatenate([p[1:], p[-1:]])
    out = np.empty((2 * p.shape[0],) + p.shape[1:], dtype=p.dtype)
    out[0::2] = (3.0 * p + prev) / 4.0
    out[1::2] = (3.0 * p + nxt) / 4.0
    return np.moveaxis(out, 0, axis)


def _reconstruct(frame, qt) -> tuple[int, int, np.ndarray]:
    """Dequantize + IDCT every block, assemble component planes,
    upsample to full resolution, convert YCbCr→RGB."""
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for c in frame["comps"]:
        if c["tq"] not in qt:
            raise ValueError("component references undefined quant table")
        q = qt[c["tq"]]
        by_total, bx_total, _ = c["coef"].shape
        plane = np.zeros((by_total * 8, bx_total * 8), dtype=np.float64)
        for by in range(by_total):
            for bx in range(bx_total):
                coeffs = np.zeros(64, dtype=np.float64)
                coeffs[_ZZ] = c["coef"][by, bx] * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _idct2(coeffs.reshape(8, 8)) + 128.0
                )
        # crop the block padding BEFORE upsampling: the triangular
        # filter's edge replication must see the image's real edge,
        # not pad columns (visible on tiny/odd dimensions)
        ch = -(-h * c["v"] // vmax)
        cw = -(-w * c["h"] // hmax)
        plane = _upsample(plane[:ch, :cw], vmax // c["v"], 0)
        plane = _upsample(plane, hmax // c["h"], 1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return w, h, np.clip(planes[0] + 0.5, 0, 255).astype(np.uint8)
    if len(planes) != 3:
        raise NotImplementedError("only 1- or 3-component JPEG supported")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, np.clip(rgb + 0.5, 0, 255).astype(np.uint8)
