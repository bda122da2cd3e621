"""ADPCM WAV decode (operators/adpcm.py) against INDEPENDENT spec-rule
encoders written in this file from the public IMA reference algorithm
and the public Microsoft WAVE documentation — the same fixture
discipline as the GIF/TIFF/JPEG suites: the encoder implements
the spec's quantize-and-track rules on its own, so any state-tracking
error in the decoder breaks the roundtrip, and ADPCM roundtrips are
BIT-exact by construction (the encoder reconstructs the same predictor
the decoder does)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from kinesis_vcr_spark.operators.adpcm import (
    _IMA_INDEX,
    _IMA_STEPS,
    _MS_ADAPT,
    _MS_COEFS,
    adpcm_wav_decode,
)
from kinesis_vcr_spark.operators.multimodal import decode_audio


# ------------------------------------------------------------ encoders

def ima_encode_block(samples: np.ndarray, pred: int, idx: int) -> tuple[bytes, int, int]:
    """Encode one channel-block: ``samples`` EXCLUDES the header
    sample. Returns (nibble bytes, final pred, final idx)."""
    nibs = []
    for s in samples:
        step = int(_IMA_STEPS[idx])
        diff = int(s) - pred
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        # track the decoder's reconstruction exactly
        d = step >> 3
        if nib & 1:
            d += step >> 2
        if nib & 2:
            d += step >> 1
        if nib & 4:
            d += step
        pred = pred - d if nib & 8 else pred + d
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + int(_IMA_INDEX[nib & 7])))
        nibs.append(nib)
    packed = bytearray()
    for i in range(0, len(nibs), 2):
        packed.append(nibs[i] | (nibs[i + 1] << 4))
    return bytes(packed), pred, idx


def ima_encode_wav(pcm: np.ndarray, rate: int = 8000, spb: int = 9) -> tuple[bytes, np.ndarray]:
    """Encode [frames, channels] int16 → IMA ADPCM WAV bytes + the
    decoder-exact expected samples. ``spb`` = samples per block
    (1 + 8·groups)."""
    frames, ch = pcm.shape
    groups = (spb - 1) // 8
    align = 4 * ch + groups * 4 * ch
    blocks = []
    expected = []
    pos = 0
    while pos < frames:
        blk = pcm[pos : pos + spb]
        if len(blk) < spb:  # pad the tail block by holding the last value
            pad = np.repeat(blk[-1:], spb - len(blk), axis=0)
            blk = np.vstack([blk, pad])
        hdr = b""
        bodies = []
        exp_cols = []
        for c in range(ch):
            pred, idx = int(blk[0, c]), 0
            hdr += struct.pack("<hBB", pred, idx, 0)
            nib_bytes, _, _ = ima_encode_block(blk[1:, c], pred, idx)
            bodies.append(nib_bytes)
            # decoder-exact reconstruction for the assertion
            p, j = pred, 0
            col = [p]
            for s in blk[1:, c]:
                step = int(_IMA_STEPS[j])
                diff = int(s) - p
                nib = 0
                if diff < 0:
                    nib = 8
                    diff = -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                p = p - d if nib & 8 else p + d
                p = max(-32768, min(32767, p))
                j = max(0, min(88, j + int(_IMA_INDEX[nib & 7])))
                col.append(p)
            exp_cols.append(col)
        body = b""
        for g in range(groups):
            for c in range(ch):
                body += bodies[c][g * 4 : g * 4 + 4]
        blocks.append(hdr + body)
        expected.append(np.array(exp_cols, dtype=np.int16).T)
        pos += spb
    data = b"".join(blocks)
    fmt = struct.pack("<HHIIHHHH", 0x11, ch, rate, rate * align // spb,
                      align, 4, 2, spb)
    riff = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return (b"RIFF" + struct.pack("<I", len(riff)) + riff,
            np.vstack(expected))


def ms_encode_wav(pcm: np.ndarray, rate: int = 8000,
                  predictor: int = 0, delta0: int = 16) -> tuple[bytes, np.ndarray]:
    """Encode [frames, channels] int16 → MS ADPCM WAV bytes + the
    decoder-exact expected samples, one block, fixed predictor."""
    frames, ch = pcm.shape
    co1, co2 = _MS_COEFS[predictor]
    hdr = bytes([predictor] * ch)
    deltas = [delta0] * ch
    s1 = [int(pcm[1, c]) for c in range(ch)]
    s2 = [int(pcm[0, c]) for c in range(ch)]
    hdr += b"".join(struct.pack("<h", d) for d in deltas)
    hdr += b"".join(struct.pack("<h", v) for v in s1)
    hdr += b"".join(struct.pack("<h", v) for v in s2)
    codes = []
    exp = [[s2[c], s1[c]] for c in range(ch)]
    for f in range(2, frames):
        for c in range(ch):
            t = s1[c] * co1 + s2[c] * co2
            pred = -((-t) >> 8) if t < 0 else t >> 8  # trunc toward 0
            err = int(pcm[f, c]) - pred
            code = max(-8, min(7, round(err / deltas[c]) if deltas[c] else 0))
            code &= 0xF
            signed = code - 16 if code & 8 else code
            sample = max(-32768, min(32767, pred + signed * deltas[c]))
            s2[c], s1[c] = s1[c], sample
            deltas[c] = max(16, (int(_MS_ADAPT[code]) * deltas[c]) >> 8)
            codes.append(code)
            exp[c].append(sample)
    body = bytearray()
    for i in range(0, len(codes) - 1, 2):
        body.append((codes[i] << 4) | codes[i + 1])  # high nibble first
    if len(codes) & 1:
        body.append(codes[-1] << 4)
    block = hdr + bytes(body)
    fmt = struct.pack("<HHIIHHHH", 0x02, ch, rate, rate, len(block), 4,
                      2, frames)
    riff = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(block)) + block)
    return (b"RIFF" + struct.pack("<I", len(riff)) + riff,
            np.array(exp, dtype=np.int16).T)


def _sine(frames: int, ch: int, seed: int = 5) -> np.ndarray:
    t = np.arange(frames, dtype=np.float64)
    cols = [
        (6000 * np.sin(2 * np.pi * t / (20 + 7 * c)) + 500 * c)
        for c in range(ch)
    ]
    return np.stack(cols, axis=1).astype(np.int16)


# --------------------------------------------------------------- tests

def test_ima_mono_roundtrip_bit_exact():
    pcm = _sine(1 + 8 * 12, 1)  # 12 whole nibble groups, one block
    wav, expected = ima_encode_wav(pcm, spb=1 + 8 * 12)
    n, ch, got = adpcm_wav_decode(wav)
    assert (n, ch) == (expected.shape[0], 1)
    np.testing.assert_array_equal(got, expected)


def test_ima_stereo_multiblock_roundtrip_bit_exact():
    pcm = _sine(3 * 17 + 5, 2)  # 3 full blocks + padded tail block
    wav, expected = ima_encode_wav(pcm, spb=17)
    n, ch, got = adpcm_wav_decode(wav)
    assert ch == 2
    np.testing.assert_array_equal(got, expected)


def test_ima_hand_computed_first_steps():
    """Fully hand-computed: pred=0 idx=0 (step 7); nibble 0x3 →
    diff=7>>3 + 7>>2 + 7>>1 = 0+1+3=4, pred=4, idx+= -1→0;
    nibble 0x8 → diff=0 (step 7>>3), pred stays 4... sign bit with
    zero magnitude: pred=4-0=4; idx stays 0."""
    hdr = struct.pack("<hBB", 0, 0, 0)
    body = bytes([0x83, 0x00, 0x00, 0x00])  # nibbles 3, 8, then zeros
    data = hdr + body
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, len(data), 4, 2, 9)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    n, ch, got = adpcm_wav_decode(wav)
    assert got[0, 0] == 0      # header sample
    assert got[1, 0] == 4      # nibble 3 from step 7
    assert got[2, 0] == 4      # sign-only nibble: magnitude 0


def test_ms_mono_roundtrip_bit_exact():
    pcm = _sine(40, 1)
    wav, expected = ms_encode_wav(pcm)
    n, ch, got = adpcm_wav_decode(wav)
    assert (n, ch) == (expected.shape[0], 1)
    np.testing.assert_array_equal(got, expected)


def test_ms_stereo_roundtrip_bit_exact():
    pcm = _sine(30, 2)
    wav, expected = ms_encode_wav(pcm, predictor=4)
    n, ch, got = adpcm_wav_decode(wav)
    assert ch == 2
    np.testing.assert_array_equal(got, expected)


def test_adpcm_tracks_pcm_waveform():
    """Lossy sanity: the decoded waveform follows the source within
    ADPCM's step-quantization error."""
    pcm = _sine(1 + 8 * 40, 1)
    wav, _ = ima_encode_wav(pcm, spb=1 + 8 * 40)
    _, _, got = adpcm_wav_decode(wav)
    err = np.abs(got.astype(float) - pcm[: len(got)].astype(float))
    assert np.median(err) < 600  # steps adapt within a few samples


def test_decode_audio_dispatches_adpcm():
    pcm = _sine(1 + 8 * 6, 2)
    wav, expected = ima_encode_wav(pcm, spb=1 + 8 * 6)
    out = decode_audio(wav)
    assert out["width"] == expected.shape[0]
    assert out["height"] == 2
    ref = float(np.abs(expected.astype(np.float64)).mean() / 32768.0)
    assert out["mean_value"] == pytest.approx(ref)


def test_guards():
    # unknown compressed tag stays a loud slot
    fmt = struct.pack("<HHIIHH", 0x55, 1, 8000, 8000, 1, 0)  # MP3 tag
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 0))
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(NotImplementedError, match="0x0055"):
        adpcm_wav_decode(wav)
    # bad step index fails loudly
    hdr = struct.pack("<hBB", 0, 99, 0) + bytes(4)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 8000, len(hdr), 4, 2, 9)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(hdr)) + hdr)
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(ValueError, match="step index"):
        adpcm_wav_decode(wav)
    # missing data chunk
    riff = b"WAVE" + b"fmt " + struct.pack("<I", 16) + bytes(16)
    with pytest.raises(ValueError, match="missing"):
        adpcm_wav_decode(b"RIFF" + struct.pack("<I", len(riff)) + riff)


def test_ms_negative_predictor_truncates_toward_zero():
    """Spec pin (ADVICE r09): the MS predictor divides the coefficient
    sum by 256 with C semantics — truncation toward zero, NOT the
    arithmetic-shift floor. Predictor 3 (co1=192, co2=64) with negative
    seeds makes the sum negative and not a multiple of 256, where the
    two conventions differ by 1 and the error feeds back through
    s1/s2. Expected samples come from an independent reference using
    int(t / 256) (Python int() truncates); the fixture is asserted to
    actually discriminate (the floor decode diverges)."""
    ch, predictor = 1, 3
    co1, co2 = _MS_COEFS[predictor]
    s1_seed, s2_seed = -3, -1  # t = 192*-3 + 64*-1 = -640: trunc -2, floor -3
    delta0 = 16
    codes = [1, 15, 2, 14, 3, 13]  # mix of positive/negative nibbles
    hdr = bytes([predictor])
    hdr += struct.pack("<h", delta0)
    hdr += struct.pack("<h", s1_seed)
    hdr += struct.pack("<h", s2_seed)
    body = bytearray()
    for i in range(0, len(codes), 2):
        body.append((codes[i] << 4) | codes[i + 1])
    block = hdr + bytes(body)
    frames = 2 + len(codes)
    fmt = struct.pack("<HHIIHHHH", 0x02, ch, 8000, 8000, len(block), 4,
                      2, frames)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(block)) + block)
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff

    def reference(divide):
        s1, s2, delta = s1_seed, s2_seed, delta0
        out = [s2, s1]
        for code in codes:
            signed = code - 16 if code & 8 else code
            pred = divide(s1 * co1 + s2 * co2)
            sample = max(-32768, min(32767, pred + signed * delta))
            s2, s1 = s1, sample
            delta = max(16, (int(_MS_ADAPT[code]) * delta) >> 8)
            out.append(sample)
        return np.array(out, dtype=np.int16).reshape(-1, 1)

    exp_trunc = reference(lambda t: int(t / 256))
    exp_floor = reference(lambda t: t >> 8)
    assert not np.array_equal(exp_trunc, exp_floor)  # fixture discriminates
    n, got_ch, got = adpcm_wav_decode(wav)
    assert (n, got_ch) == (frames, 1)
    np.testing.assert_array_equal(got, exp_trunc)


def test_ms_multiblock_roundtrip_bit_exact():
    """Multiple MS blocks in one data chunk: each block re-seeds from
    its own header, so block boundaries must not leak decoder state."""
    pcm = _sine(64, 1, seed=9)
    blocks = []
    expected = []
    for b0 in range(0, 64, 16):
        wav_b, exp_b = ms_encode_wav(pcm[b0 : b0 + 16], predictor=1)
        # extract the data chunk payload (single block) from the wav
        (size,) = struct.unpack_from("<I", wav_b, 4)
        off = 12
        while off + 8 <= len(wav_b):
            cid = wav_b[off : off + 4]
            (csize,) = struct.unpack_from("<I", wav_b, off + 4)
            if cid == b"data":
                blocks.append(wav_b[off + 8 : off + 8 + csize])
                break
            off += 8 + csize + (csize & 1)
        expected.append(exp_b)
    align = len(blocks[0])
    assert all(len(b) == align for b in blocks)
    data = b"".join(blocks)
    fmt = struct.pack("<HHIIHHHH", 0x02, 1, 8000, 8000, align, 4, 2, 16)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    n, ch, got = adpcm_wav_decode(wav)
    exp = np.vstack(expected)
    assert (n, ch) == (exp.shape[0], 1)
    np.testing.assert_array_equal(got, exp)


# ----------------------------------------- G.711 + IEEE-float WAVE

def g711_wav(tag: int, codes: bytes, channels: int = 1) -> bytes:
    fmt = struct.pack("<HHIIHH", tag, channels, 8000, 8000 * channels,
                      channels, 8)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(codes)) + codes)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def ulaw_encode(sample: int) -> int:
    """Independent spec-rule mu-law compressor (G.711 reference
    algorithm: bias, segment search, mantissa extract, invert)."""
    BIAS = 0x84
    sign = 0x80 if sample < 0 else 0
    if sample < 0:
        sample = -sample
    sample = min(sample + BIAS, 0x7FFF)
    seg_end = (0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0x7FFF)
    seg = next(s for s in range(8) if sample <= seg_end[s])
    mant = (sample >> (seg + 3)) & 0x0F
    return ~(sign | (seg << 4) | mant) & 0xFF


def alaw_encode(sample: int) -> int:
    """Independent spec-rule A-law compressor."""
    sign = 0x80 if sample >= 0 else 0
    if sample < 0:
        sample = -sample - 1
    seg = 0
    for seg in range(8):
        if sample < (0x100 << seg if seg else 0x100):
            break
    if seg == 0:
        mant = sample >> 4
    else:
        mant = (sample >> (seg + 3)) & 0x0F
    return (sign | (seg << 4) | mant) ^ 0x55


def test_mulaw_wav_roundtrip():
    # every code value decodes; re-encoding the decoded value with the
    # independent compressor returns the code (G.711 is idempotent on
    # its own reconstruction levels)
    codes = bytes(range(256))
    n, ch, samples = adpcm_wav_decode(g711_wav(0x07, codes))
    assert (n, ch) == (256, 1)
    for code, val in zip(codes, samples[:, 0]):
        # +0 and -0 share the reconstruction value 0; the compressor
        # canonicalizes to +0 (0xFF)
        assert ulaw_encode(int(val)) == code or (val == 0 and code == 0x7F)
    out = decode_audio(g711_wav(0x07, codes))
    assert out["width"] == 256 and out["height"] == 1


def test_alaw_wav_roundtrip():
    codes = bytes(range(256))
    n, ch, samples = adpcm_wav_decode(g711_wav(0x06, codes))
    assert (n, ch) == (256, 1)
    for code, val in zip(codes, samples[:, 0]):
        v = int(val)
        assert alaw_encode(v if v >= 0 else v) == code, (code, v)


def test_float_wav_decode():
    t = np.arange(480)
    sig = (0.5 * np.sin(2 * np.pi * t / 48)).astype(np.float32)
    left_right = np.stack([sig, -sig], axis=1)
    fmt = struct.pack("<HHIIHH", 3, 2, 48000, 48000 * 8, 8, 32)
    data = left_right.astype("<f4").tobytes()
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    n, ch, samples = adpcm_wav_decode(wav)
    assert (n, ch) == (480, 2)
    expected = np.clip(np.rint(left_right.astype(np.float64) * 32768.0),
                       -32768, 32767)
    np.testing.assert_array_equal(samples, expected.astype(np.int16))
    out = decode_audio(wav)
    assert out["width"] == 480 and out["height"] == 2


# -------------------------------- malformed-stream contract (r11)

def test_truncated_aiff_chunks_raise_valueerror():
    """ADVICE r10: a truncated COMM/SSND body used to escape as
    struct.error; the contract is ValueError for malformed streams."""
    from kinesis_vcr_spark.operators.adpcm import aiff_decode

    def form(*chunks: bytes) -> bytes:
        body = b"AIFF" + b"".join(chunks)
        return b"FORM" + struct.pack(">I", len(body)) + body

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack(">I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b"")

    with pytest.raises(ValueError, match="COMM chunk truncated"):
        aiff_decode(form(chunk(b"COMM", b"\x00\x01\x00")))
    comm = struct.pack(">hIh", 1, 2, 16) + b"\x40\x0e" + b"\xac\x44" + bytes(6)
    with pytest.raises(ValueError, match="SSND header truncated"):
        aiff_decode(form(chunk(b"COMM", comm), chunk(b"SSND", b"\x00\x00")))
