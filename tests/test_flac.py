"""FLAC decode (operators/flac.py) — the self-validating codec: the
STREAMINFO PCM-MD5 makes every file its own oracle, the spec-rule
encoder round-trips cover every subframe type (constant / verbatim /
fixed 0-2 / LPC), all four stereo decorrelations, Rice partitions >0,
raw-bits escapes, wasted bits and uncommon header codes, and tamper
tests pin each checksum tier (CRC-8, CRC-16, MD5) raising instead of
returning garbage."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from kinesis_vcr_spark.operators.flac import (
    _crc8,
    _crc16,
    _encode_coded_number,
    _pcm_bytes,
    _read_coded_number,
    decode_flac,
    encode_flac,
    is_flac,
    parse_streaminfo,
)
from kinesis_vcr_spark.operators.multimodal import decode_audio


def _pcm(n=10000, ch=2, amp=3000, seed=7, bits=16):
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    cols = [
        (amp * np.sin(t / (50 - 13 * c) + c)
         + rng.integers(-40, 40, n)).astype(np.int64)
        for c in range(ch)
    ]
    out = np.stack(cols, axis=1)
    lim = (1 << (bits - 1)) - 1
    return np.clip(out, -lim - 1, lim)


# ------------------------------------------------------------ CRCs

def test_crc_anchors():
    """Canonical check values: CRC-8/0x07 and CRC-16/0x8005 (BUYPASS)
    of '123456789' — the published anchor vectors for both."""
    data = b"123456789"
    assert _crc8(data) == 0xF4
    assert _crc16(data) == 0xFEE8


def test_coded_number_roundtrip():
    for v in [0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x1FFFFF,
              0x3FFFFFF, 0x7FFFFFFF, (1 << 36) - 1]:
        enc = _encode_coded_number(v)
        got, pos = _read_coded_number(enc, 0)
        assert got == v and pos == len(enc), hex(v)


# ------------------------------------------------- round-trip matrix

@pytest.mark.parametrize("mode", ["independent", "left_side",
                                  "right_side", "mid_side"])
@pytest.mark.parametrize("strategy", ["auto", "verbatim", "lpc"])
def test_roundtrip_stereo_modes_and_strategies(mode, strategy):
    pcm = _pcm(10000, 2)
    enc = encode_flac(pcm, 44100, bits=16, block_size=4096,
                      stereo_mode=mode, strategy=strategy)
    n, ch, sr, bits, out = decode_flac(enc)
    assert (n, ch, sr, bits) == (10000, 2, 44100, 16)
    assert np.array_equal(out, pcm)


def test_roundtrip_mono_8bit_constant_blocks():
    pcm = np.zeros((500, 1), np.int64)
    pcm[:100] = 42
    enc = encode_flac(pcm, 8000, bits=8, block_size=192)
    n, ch, sr, bits, out = decode_flac(enc)
    assert (n, ch, sr, bits) == (500, 1, 8000, 8)
    assert np.array_equal(out, pcm)


def test_roundtrip_24bit_partitions_and_escape():
    """Partition order 2 + forced raw-bits escapes — the residual
    paths Rice-optimal encoders rarely emit but decoders must take."""
    rng = np.random.default_rng(3)
    pcm = rng.integers(-(1 << 22), 1 << 22, (4096, 1)).astype(np.int64)
    enc = encode_flac(pcm, 96000, bits=24, partition_order=2,
                      force_escape=True)
    n, ch, sr, bits, out = decode_flac(enc)
    assert (bits, sr) == (24, 96000)
    assert np.array_equal(out, pcm)
    # same data, rice-coded multi-partition
    enc2 = encode_flac(pcm, 96000, bits=24, partition_order=2)
    assert np.array_equal(decode_flac(enc2)[4], pcm)


def test_roundtrip_wasted_bits():
    rng = np.random.default_rng(5)
    pcm = (rng.integers(-(1 << 10), 1 << 10, (2048, 1)) << 4).astype(np.int64)
    enc = encode_flac(pcm, 22050, bits=16)
    assert np.array_equal(decode_flac(enc)[4], pcm)


def test_roundtrip_uncommon_blocksize_and_rate():
    """A final partial frame forces the uncommon (end-of-header)
    block-size code; a non-table rate forces the Hz-coded field."""
    pcm = _pcm(5000, 1)  # 5000 = 4096 + 904 -> uncommon 16-bit size
    enc = encode_flac(pcm, 11025, bits=16)  # 11025 not in the table
    n, ch, sr, bits, out = decode_flac(enc)
    assert (n, sr) == (5000, 11025)
    assert np.array_equal(out, pcm)


def test_roundtrip_multichannel():
    pcm = _pcm(3000, 4, amp=1200)
    enc = encode_flac(pcm, 48000, bits=16)
    n, ch, _, _, out = decode_flac(enc)
    assert ch == 4
    assert np.array_equal(out, pcm)


def test_roundtrip_empty_stream():
    enc = encode_flac(np.empty((0, 1), np.int64), 44100)
    n, ch, sr, bits, out = decode_flac(enc)
    assert (n, ch, out.shape) == (0, 1, (0, 1))


# ------------------------------------------------ self-validation

def test_md5_oracle_is_enforced():
    """Tampering ONLY the STREAMINFO MD5 leaves every CRC valid — the
    decode must still fail loudly: the MD5 is the end-to-end PCM
    oracle, not advisory metadata."""
    pcm = _pcm(2000, 2)
    enc = bytearray(encode_flac(pcm, 44100))
    # STREAMINFO md5 lives at bytes 8+18 .. 8+34 (4 magic + 4 header)
    si = parse_streaminfo(bytes(enc))
    assert si["md5"] == hashlib.md5(_pcm_bytes(pcm, 16)).digest()
    enc[8 + 18] ^= 0xFF
    with pytest.raises(ValueError, match="MD5 mismatch"):
        decode_flac(bytes(enc))
    # verify_md5=False decodes the (structurally intact) stream
    assert np.array_equal(decode_flac(bytes(enc), verify_md5=False)[4], pcm)


def test_header_crc8_tamper_raises():
    pcm = _pcm(1000, 1)
    enc = bytearray(encode_flac(pcm, 44100))
    si = parse_streaminfo(bytes(enc))
    # flip a bit in the first frame header's blocksize/rate byte
    enc[si["frames_at"] + 2] ^= 0x10
    with pytest.raises(ValueError):
        decode_flac(bytes(enc))


def test_frame_crc16_tamper_raises():
    pcm = _pcm(1000, 1)
    enc = bytearray(encode_flac(pcm, 44100))
    si = parse_streaminfo(bytes(enc))
    enc[si["frames_at"] + 40] ^= 0x01  # a residual byte mid-frame
    with pytest.raises(ValueError):
        decode_flac(bytes(enc))


def test_truncation_and_bad_magic_raise():
    pcm = _pcm(1000, 1)
    enc = encode_flac(pcm, 44100)
    with pytest.raises(ValueError):
        decode_flac(enc[:30])
    with pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"OggS" + enc[4:])
    assert is_flac(enc) and not is_flac(b"RIFF")


def test_sample_count_mismatch_raises():
    """STREAMINFO total_samples is enforced against the decoded sum."""
    pcm = _pcm(1000, 1)
    enc = bytearray(encode_flac(pcm, 44100))
    # total_samples field: STREAMINFO bits 144..180; low 8 bits sit in
    # byte 8 + 21 (16+16+24+24+20+3+5+36 layout -> bytes 10..17 end at
    # offset 18 within the 34-byte block; last byte index 17)
    enc[8 + 17] ^= 0x01
    with pytest.raises(ValueError):
        decode_flac(bytes(enc), verify_md5=False)


# ------------------------------------------------------ info tiers

def test_streaminfo_metadata_tier():
    pcm = _pcm(44100, 2)
    enc = encode_flac(pcm, 44100)
    info = parse_streaminfo(enc)
    assert info["sample_rate"] == 44100
    assert info["channels"] == 2
    assert info["bits"] == 16
    assert info["total_samples"] == 44100
    assert info["md5"] == hashlib.md5(_pcm_bytes(pcm, 16)).digest()


def test_decode_audio_flac_envelope():
    """decode_audio dispatches fLaC payloads to the real decoder and
    reports the standard envelope (frames, channels, normalized mean)."""
    pcm = _pcm(4000, 2)
    enc = encode_flac(pcm, 44100)
    got = decode_audio(enc)
    assert got["width"] == 4000
    assert got["height"] == 2
    expect = float(np.abs(pcm.astype(np.float64)).mean() / 32768.0)
    assert got["mean_value"] == pytest.approx(expect)
