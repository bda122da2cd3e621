"""MPEG-1 Layer I/II PCM decode (operators/mp3.py) against an
INDEPENDENT spec-rule encoder written in this file from ISO/IEC
11172-3 — the ADPCM/GIF/TIFF fixture discipline.

Two layers of defense against the shared-table trap (the encoder and
decoder both read the polyphase window from the module):

1. The window itself is validated WITHOUT any encoder: symmetry is by
   construction, the underlying prototype's second difference is
   bounded (a single corrupted table integer is a visible spike), and
   the analysis->synthesis cascade reconstructs wideband noise to
   >= 80 dB SNR at the filterbank's 481-sample delay. Pseudo-QMF alias
   cancellation is a GLOBAL constraint on the 512 coefficients, so a
   materially wrong table cannot pass this even when both sides use it.
2. The test encoder's analysis filterbank uses the spec Annex C
   formulation (512-sample X buffer, per-64-block folded window,
   32x64 matrixing) — structurally different from the module's
   (512, 32) synthesis-matrix overlap-add, so a transcription error in
   either formulation breaks the pairing.

Bitstream layout (headers, allocation, scalefactors, scfsi, grouped
codes, joint-stereo bound, CRC skip) is exercised by exact
subband-level comparison: the decoder's requantized subband samples
must equal the encoder's own dequantized codes to float precision.
"""

from __future__ import annotations

import numpy as np
import pytest

from kinesis_vcr_spark.operators.mp3 import (
    _SCALEFACTORS,
    _decode_frame_subbands,
    _parse_header,
    mp3_frame_info,
    mpeg_audio_decode,
    mpeg_prototype,
    synthesize_subbands,
)
from kinesis_vcr_spark.operators.multimodal import decode_audio

# ------------------------------------------------------------ encoder

RATE_IDX = {44100: 0, 48000: 1, 32000: 2}
L1_BITRATES = [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
               384, 416, 448]
L2_BITRATES = [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
               320, 384]


class BitWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def payload(self, total_bytes: int) -> bytes:
        assert len(self.bits) <= total_bytes * 8, "frame overflow"
        bits = self.bits + [0] * (total_bytes * 8 - len(self.bits))
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def header_word(layer: int, bitrate_idx: int, rate: int, mode: int,
                mode_ext: int = 0, crc: bool = False) -> int:
    return (
        (0x7FF << 21) | (3 << 19) | ((4 - layer) << 17)
        | ((0 if crc else 1) << 16) | (bitrate_idx << 12)
        | (RATE_IDX[rate] << 10) | (0 << 9) | (mode << 6) | (mode_ext << 4)
    )


def analyze(x: np.ndarray) -> np.ndarray:
    """Spec Annex C analysis filterbank: subband frames (T, 32)."""
    h = mpeg_prototype()
    c = (h / 32.0) * np.tile(np.repeat([1.0, -1.0], 64), 4)
    m = np.cos(
        (2 * np.arange(32)[:, None] + 1)
        * (np.arange(64)[None, :] - 16) * np.pi / 64
    )
    buf = np.zeros(512)
    out = []
    for t in range(0, len(x) - 31, 32):
        buf[32:] = buf[:-32]
        buf[:32] = x[t : t + 32][::-1]
        y = (c * buf).reshape(8, 64).sum(axis=0)
        out.append(m @ y)
    return np.array(out)


def pick_sf(maxval: float) -> int:
    """Largest scalefactor index (smallest scalefactor) still strictly
    above maxval — keeps every normalized sample inside (-1, 1)."""
    idx = int(np.searchsorted(-_SCALEFACTORS, -maxval, side="left")) - 1
    return max(0, min(62, idx))


def quantize(s: float, m: int, sf: float) -> int:
    d = int(np.rint(((s / sf) * m + m - 1) / 2))
    return max(0, min(m - 1, d))


def dequant(d: int, m: int, sf: float) -> float:
    return sf * (2 * d - m + 1) / m


def encode_layer1(
    pcm: np.ndarray,  # (n, nch) floats in (-1, 1)
    rate: int = 44100,
    bitrate_idx: int = 14,
    mode: int = 3,
    mode_ext: int = 0,
    alloc_codes: list[int] | None = None,
    crc: bool = False,
) -> tuple[bytes, np.ndarray]:
    """Layer I encoder: returns (stream bytes, expected subband samples
    per frame stacked (T, 32, nch)) where expected = the encoder's own
    dequantized codes."""
    nch = pcm.shape[1]
    if alloc_codes is None:
        alloc_codes = [7] * 16 + [0] * 16  # nb = 8 for the low half
    bound = 4 * (mode_ext + 1) if mode == 1 else 32
    sb_all = np.stack([analyze(pcm[:, ch]) for ch in range(nch)], axis=2)
    n_frames = sb_all.shape[0] // 12
    frame_bytes = (12 * L1_BITRATES[bitrate_idx] * 1000 // rate) * 4
    stream = bytearray()
    expected = np.zeros((n_frames * 12, 32, nch))
    for f in range(n_frames):
        frame_sb = sb_all[f * 12 : (f + 1) * 12]
        bw = BitWriter()
        if crc:
            bw.write(0xBEEF, 16)  # decoder skips the CRC word
        for sb in range(32):
            reps = range(nch) if sb < bound else [0]
            for _ in reps:
                bw.write(alloc_codes[sb], 4)
        sf_idx = np.zeros((nch, 32), dtype=int)
        for sb in range(32):
            for ch in range(nch):
                if alloc_codes[sb]:
                    sf_idx[ch, sb] = pick_sf(np.abs(frame_sb[:, sb, ch]).max())
                    bw.write(sf_idx[ch, sb], 6)
        for s in range(12):
            for sb in range(32):
                if not alloc_codes[sb]:
                    continue
                nb = alloc_codes[sb] + 1
                m = (1 << nb) - 1
                if sb < bound:
                    for ch in range(nch):
                        sf = _SCALEFACTORS[sf_idx[ch, sb]]
                        d = quantize(frame_sb[s, sb, ch], m, sf)
                        bw.write(d, nb)
                        expected[f * 12 + s, sb, ch] = dequant(d, m, sf)
                else:
                    sf0 = _SCALEFACTORS[sf_idx[0, sb]]
                    d = quantize(frame_sb[s, sb, 0], m, sf0)
                    bw.write(d, nb)
                    for ch in range(nch):
                        sf = _SCALEFACTORS[sf_idx[ch, sb]]
                        expected[f * 12 + s, sb, ch] = dequant(d, m, sf)
        hdr = header_word(1, bitrate_idx, rate, mode, mode_ext, crc)
        stream += hdr.to_bytes(4, "big") + bw.payload(frame_bytes - 4)
    return bytes(stream), expected


GROUP_BITS = {3: 5, 5: 7, 9: 10}
SAMPLE_BITS = {7: 3, 15: 4, 31: 5, 63: 6, 127: 7, 255: 8, 511: 9,
               1023: 10, 2047: 11, 4095: 12, 8191: 13, 16383: 14,
               32767: 15, 65535: 16}

# Table B.2 rows, written out independently of the module's helper
B2_ROWS = {
    "a": [(4, [3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191,
               16383, 32767, 65535])] * 3
         + [(4, [3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047,
                 4095, 8191, 65535])] * 8
         + [(3, [3, 5, 7, 9, 15, 31, 65535])] * 12
         + [(2, [3, 5, 65535])] * 4,
    "b": [(4, [3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191,
               16383, 32767, 65535])] * 3
         + [(4, [3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047,
                 4095, 8191, 65535])] * 8
         + [(3, [3, 5, 7, 9, 15, 31, 65535])] * 12
         + [(2, [3, 5, 65535])] * 7,
    "c": [(4, [3, 5, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
               8191, 16383, 32767, 65535])] * 8,
    "d": [(4, [3, 5, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
               8191, 16383, 32767, 65535])] * 12,
}


def encode_layer2(
    pcm: np.ndarray,
    rate: int,
    bitrate_idx: int,
    table: str,
    alloc_codes: dict[int, int],
    scfsi_codes: dict[int, int] | None = None,
    mode: int = 3,
    mode_ext: int = 0,
) -> tuple[bytes, np.ndarray]:
    """Layer II encoder with explicit per-subband allocation codes and
    scfsi selections. Returns (stream, expected subbands (T, 32, nch))."""
    nch = pcm.shape[1]
    rows = B2_ROWS[table]
    sblimit = len(rows)
    bound = min(4 * (mode_ext + 1), sblimit) if mode == 1 else sblimit
    scfsi_codes = scfsi_codes or {}
    sb_all = np.stack([analyze(pcm[:, ch]) for ch in range(nch)], axis=2)
    n_frames = sb_all.shape[0] // 36
    frame_bytes = 144 * L2_BITRATES[bitrate_idx] * 1000 // rate
    stream = bytearray()
    expected = np.zeros((n_frames * 36, 32, nch))
    for f in range(n_frames):
        frame_sb = sb_all[f * 36 : (f + 1) * 36]
        bw = BitWriter()
        for sb in range(sblimit):
            nbal, _ = rows[sb]
            reps = range(nch) if sb < bound else [0]
            for _ in reps:
                bw.write(alloc_codes.get(sb, 0), 4 if nbal == 4 else nbal)
        active = [sb for sb in range(sblimit) if alloc_codes.get(sb, 0)]
        for sb in range(sblimit):
            if sb in active:
                for _ch in range(nch):
                    bw.write(scfsi_codes.get(sb, 0), 2)
        # per-part scalefactors, merged per the scfsi rule
        sf_idx = np.zeros((nch, sblimit, 3), dtype=int)
        for sb in active:
            for ch in range(nch):
                part_max = [np.abs(frame_sb[12 * p : 12 * (p + 1), sb, ch]).max()
                            for p in range(3)]
                mode_s = scfsi_codes.get(sb, 0)
                if mode_s == 0:
                    idxs = [pick_sf(part_max[p]) for p in range(3)]
                    transmit = idxs
                elif mode_s == 1:
                    a = pick_sf(max(part_max[0], part_max[1]))
                    b = pick_sf(part_max[2])
                    idxs, transmit = [a, a, b], [a, b]
                elif mode_s == 2:
                    a = pick_sf(max(part_max))
                    idxs, transmit = [a, a, a], [a]
                else:
                    a = pick_sf(part_max[0])
                    b = pick_sf(max(part_max[1], part_max[2]))
                    idxs, transmit = [a, b, b], [a, b]
                sf_idx[ch, sb] = idxs
                for v in transmit:
                    bw.write(v, 6)
        for gr in range(12):
            part = gr // 4
            for sb in active:
                _, classes = rows[sb]
                m = classes[alloc_codes[sb] - 1]
                shared = sb >= bound
                for ch in range(1 if shared else nch):
                    sf = _SCALEFACTORS[sf_idx[ch, sb, part]]
                    ds = [quantize(frame_sb[3 * gr + j, sb, ch], m, sf)
                          for j in range(3)]
                    if m in GROUP_BITS:
                        code = ds[0] + ds[1] * m + ds[2] * m * m
                        bw.write(code, GROUP_BITS[m])
                    else:
                        for d in ds:
                            bw.write(d, SAMPLE_BITS[m])
                    for j, d in enumerate(ds):
                        s = f * 36 + 3 * gr + j
                        chans = range(nch) if shared else [ch]
                        for c2 in chans:
                            sf2 = _SCALEFACTORS[sf_idx[c2, sb, part]]
                            expected[s, sb, c2] = dequant(d, m, sf2)
        hdr = header_word(2, bitrate_idx, rate, mode, mode_ext)
        stream += hdr.to_bytes(4, "big") + bw.payload(frame_bytes - 4)
    return bytes(stream), expected


def tone(n: int, freq: float = 0.01, amp: float = 0.4,
         nch: int = 1) -> np.ndarray:
    t = np.arange(n)
    x = amp * np.sin(2 * np.pi * freq * t) + 0.1 * np.sin(
        2 * np.pi * 0.13 * t + 0.5
    )
    return np.tile(x[:, None], (1, nch))


def decoded_subbands(stream: bytes) -> np.ndarray:
    """All subband frames the decoder extracts, stacked (T, 32, nch)."""
    off, out = 0, []
    while off + 4 <= len(stream):
        hdr = _parse_header(int.from_bytes(stream[off : off + 4], "big"))
        if hdr is None:
            break
        out.append(_decode_frame_subbands(stream, off, hdr))
        off += hdr["frame_bytes"]
    return np.concatenate(out)


def snr_db(ref: np.ndarray, test: np.ndarray) -> float:
    err = ref - test
    return 10 * np.log10(np.sum(ref**2) / max(np.sum(err**2), 1e-30))


# ------------------------------------------------------- window/table

def test_prototype_smooth_symmetric_anchored():
    h = mpeg_prototype()
    assert h[0] == 0.0
    assert h[256] == pytest.approx(75038 / 65536)
    np.testing.assert_allclose(h[1:256], h[511:256:-1])
    # a corrupted table integer is a spike in the second difference
    assert np.abs(np.diff(h, 2)).max() < 0.002
    # lowpass prototype: main lobe dwarfs the tails
    assert np.abs(h[:64]).max() < 0.01


def test_filterbank_near_perfect_reconstruction():
    rng = np.random.default_rng(7)
    n = 32 * 150
    x = rng.standard_normal(n) * 0.3
    x += 0.4 * np.sin(2 * np.pi * 0.0123 * np.arange(n))
    y = synthesize_subbands(analyze(x))
    m = len(x) - 481
    assert snr_db(x[:m], y[481 : 481 + m]) > 80.0


def test_synthesis_band_frequency_mapping():
    # an impulse train in subband k must synthesize energy at the
    # band's center frequency (2k+1) * fs / 128 — pins the modulation
    # orientation without any analysis-side code
    for k in (0, 3, 17, 31):
        sb = np.zeros((64, 32))
        sb[:, k] = 1.0
        y = synthesize_subbands(sb)[481:]
        spec = np.abs(np.fft.rfft(y * np.hanning(len(y))))
        peak = np.argmax(spec) / len(y)  # cycles per sample
        assert abs(peak - (2 * k + 1) / 128) < 0.01, k


# ------------------------------------------------------------ layer I

def test_layer1_roundtrip_mono():
    pcm = tone(384 * 4)
    stream, expected = encode_layer1(pcm)
    got = decoded_subbands(stream)
    np.testing.assert_allclose(got, expected, atol=1e-12)
    n, nch, samples = mpeg_audio_decode(stream)
    assert (n, nch) == (384 * 4, 1)
    y = samples[:, 0].astype(np.float64) / 32768.0
    m = len(pcm) - 481
    assert snr_db(pcm[:m, 0], y[481 : 481 + m]) > 35.0


def test_layer1_roundtrip_stereo_distinct_channels():
    n = 384 * 3
    pcm = np.stack(
        [tone(n)[:, 0], 0.3 * np.sin(2 * np.pi * 0.07 * np.arange(n))],
        axis=1,
    )
    stream, expected = encode_layer1(pcm, mode=0)
    got = decoded_subbands(stream)
    np.testing.assert_allclose(got, expected, atol=1e-12)


def test_layer1_joint_stereo_shared_above_bound():
    n = 384 * 2
    base = tone(n)[:, 0]
    pcm = np.stack([base, base], axis=1)  # identical -> shared codes exact
    alloc = [7] * 16 + [0] * 16  # sb 8..15 sit above the bound of 8
    stream, expected = encode_layer1(
        pcm, mode=1, mode_ext=1, alloc_codes=alloc, bitrate_idx=14
    )
    got = decoded_subbands(stream)
    np.testing.assert_allclose(got, expected, atol=1e-12)


def test_layer1_crc_frame():
    pcm = tone(384 * 2)
    stream, expected = encode_layer1(pcm, crc=True)
    got = decoded_subbands(stream)
    np.testing.assert_allclose(got, expected, atol=1e-12)


# ----------------------------------------------------------- layer II

def test_layer2_roundtrip_table_a_grouped_and_ungrouped():
    pcm = tone(1152 * 3)
    # 80 kbps mono at 44.1 kHz selects table a; exercise the grouped
    # classes (3, 5, 9 steps), an ungrouped one, and all scfsi modes
    alloc = {0: 3, 3: 2, 5: 1, 11: 1, 23: 2}   # m = 15, 5, 3, 3, 5
    scfsi = {0: 0, 3: 1, 5: 2, 11: 3, 23: 0}
    stream, expected = encode_layer2(pcm, 44100, 5, "a", alloc, scfsi)
    got = decoded_subbands(stream)
    np.testing.assert_allclose(got, expected, atol=1e-12)
    n, nch, samples = mpeg_audio_decode(stream)
    assert (n, nch) == (1152 * 3, 1)


def test_layer2_table_b_stereo():
    n = 1152 * 2
    pcm = np.stack(
        [tone(n)[:, 0], 0.25 * np.sin(2 * np.pi * 0.03 * np.arange(n))],
        axis=1,
    )
    # 256 kbps stereo at 44.1 kHz = 128 kbps/ch -> table b (sblimit 30)
    alloc = {0: 5, 4: 3, 12: 2, 27: 1}
    stream, expected = encode_layer2(pcm, 44100, 12, "b", alloc, mode=0)
    got = decoded_subbands(stream)
    np.testing.assert_allclose(got, expected, atol=1e-12)


def test_layer2_low_rate_tables_c_and_d():
    pcm = tone(1152 * 2)
    # 48 kbps mono at 44.1 kHz -> table c (sblimit 8, 9-step grouped)
    stream, expected = encode_layer2(pcm, 44100, 2, "c", {0: 3, 5: 2})
    np.testing.assert_allclose(decoded_subbands(stream), expected,
                               atol=1e-12)
    # 48 kbps mono at 32 kHz -> table d (sblimit 12)
    stream, expected = encode_layer2(pcm, 32000, 2, "d", {0: 3, 10: 2})
    np.testing.assert_allclose(decoded_subbands(stream), expected,
                               atol=1e-12)


def test_layer2_table_a_at_48k_high_rate():
    pcm = tone(1152 * 2)
    # 192 kbps mono at 48 kHz stays table a
    alloc = {2: 4, 8: 5, 15: 2}
    stream, expected = encode_layer2(pcm, 48000, 10, "a", alloc)
    np.testing.assert_allclose(decoded_subbands(stream), expected,
                               atol=1e-12)


def test_layer2_joint_stereo_bound():
    n = 1152 * 2
    base = tone(n)[:, 0]
    pcm = np.stack([base, base], axis=1)
    # mode_ext 1 -> bound 8: sb >= 8 share one code stream
    alloc = {1: 2, 9: 1, 20: 1}
    stream, expected = encode_layer2(
        pcm, 44100, 12, "b", alloc, mode=1, mode_ext=1
    )
    np.testing.assert_allclose(decoded_subbands(stream), expected,
                               atol=1e-12)


# -------------------------------------------------------- integration

def test_decode_audio_mpeg_layer2():
    pcm = tone(1152 * 2)
    stream, _ = encode_layer2(pcm, 44100, 5, "a", {0: 3, 3: 2})
    out = decode_audio(stream)
    assert out["width"] == 1152 * 2
    assert out["height"] == 1
    assert 0.0 < out["mean_value"] < 1.0


def test_decode_audio_layer3_is_the_ffmpeg_slot():
    """Layer III has no in-repo decoder: the metadata tier still
    answers, and decode_audio raises the Decoder slot with the parsed
    stream shape in the message."""
    hdr = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) | (9 << 12) | (0 << 10) | (3 << 6)
    frame_bytes = 144 * 128000 // 44100
    stream = (hdr.to_bytes(4, "big") + bytes(frame_bytes - 4)) * 3
    info = mp3_frame_info(stream)
    assert (info["layer"], info["n_frames"]) == (3, 3)
    with pytest.raises(NotImplementedError, match="layer 3"):
        mpeg_audio_decode(stream)
    with pytest.raises(NotImplementedError,
                       match="MPEG1 layer 3, 44100 Hz, 3 frames"):
        decode_audio(stream)


def test_mpeg_decode_skips_id3_and_truncated_tail():
    pcm = tone(384 * 3)
    stream, expected = encode_layer1(pcm)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + bytes(10)
    n, nch, samples = mpeg_audio_decode(id3 + stream + stream[:50])
    assert n == 384 * 3  # truncated tail frame not decoded
    got = decoded_subbands(stream)
    np.testing.assert_allclose(got, expected, atol=1e-12)
