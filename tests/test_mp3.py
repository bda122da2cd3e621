"""MPEG audio frame-header metadata (operators/mp3.py): header field
decode, exact frame-size walk (incl. padding and Layer I slot math),
ID3v2 skip, VBR duration summing, resync, and the decode_audio
documented-slot dispatch."""

from __future__ import annotations

import pytest

from kinesis_vcr_spark.operators.mp3 import _id3v2_size, mp3_frame_info


def _header(
    version=3, layer_bits=1, bitrate_idx=9, rate_idx=0, padding=0, mode=0
) -> int:
    return (
        (0x7FF << 21) | (version << 19) | (layer_bits << 17) | (1 << 16)
        | (bitrate_idx << 12) | (rate_idx << 10) | (padding << 9)
        | (mode << 6)
    )


def _frame(h: int, frame_bytes: int) -> bytes:
    return h.to_bytes(4, "big") + bytes(frame_bytes - 4)


def test_mpeg1_layer3_cbr_walk():
    # MPEG-1 L3, bitrate_idx 9 = 128 kbps, 44100 Hz, stereo:
    # frame = 144*128000/44100 = 417 bytes (+1 when padded)
    h = _header()
    payload = _frame(h, 417) * 5
    info = mp3_frame_info(payload)
    assert info["version"] == "MPEG1"
    assert info["layer"] == 3
    assert info["bitrate"] == 128000
    assert info["sample_rate"] == 44100
    assert info["channels"] == 2
    assert info["n_frames"] == 5
    assert info["duration_s"] == round(5 * 1152 / 44100, 6)
    assert not info["vbr"]


def test_padding_changes_frame_size():
    h0, h1 = _header(padding=0), _header(padding=1)
    payload = _frame(h1, 418) + _frame(h0, 417) + _frame(h1, 418)
    assert mp3_frame_info(payload)["n_frames"] == 3


def test_layer1_slot_math_and_mono():
    # MPEG-1 L1 (layer_bits 3), idx 4 = 128 kbps, 32000 Hz (rate_idx 2),
    # mono (mode 3): frame = (12*128000/32000 + 0)*4 = 192 bytes
    h = _header(layer_bits=3, bitrate_idx=4, rate_idx=2, mode=3)
    info = mp3_frame_info(_frame(h, 192) * 4)
    assert (info["layer"], info["channels"]) == (1, 1)
    assert info["n_frames"] == 4
    assert info["duration_s"] == round(4 * 384 / 32000, 6)


def test_mpeg2_layer3_and_vbr_duration():
    # MPEG-2 (version 2) L3, 24000 Hz (rate_idx 1): spf 576
    # idx 4 = 32 kbps → 576/8*32000/24000 = 96 B; idx 8 = 64 kbps → 192 B
    a = _header(version=2, bitrate_idx=4, rate_idx=1)
    b = _header(version=2, bitrate_idx=8, rate_idx=1)
    info = mp3_frame_info(_frame(a, 96) + _frame(b, 192) + _frame(a, 96))
    assert info["version"] == "MPEG2"
    assert info["vbr"]
    assert info["n_frames"] == 3
    assert info["duration_s"] == round(3 * 576 / 24000, 6)
    assert info["bitrate"] == 32000  # first frame's


def test_id3v2_skip_and_resync():
    tag = b"ID3\x04\x00\x00" + bytes([0, 0, 1, 5]) + bytes(133)  # 10+133
    assert _id3v2_size(tag) == 143
    payload = tag + b"\x00junk" + _frame(_header(), 417) * 2
    assert mp3_frame_info(payload)["n_frames"] == 2
    with pytest.raises(ValueError, match="synchsafe"):
        _id3v2_size(b"ID3\x04\x00\x00" + bytes([0x80, 0, 0, 0]))


def test_no_sync_is_loud():
    with pytest.raises(ValueError, match="sync"):
        mp3_frame_info(bytes(64))

