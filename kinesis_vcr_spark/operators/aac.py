"""AAC metadata tier — ADTS frame-header walk and MP4/M4A box walk
(r11 verdict item 6): the other half of real-world crawl audio gets
the same honest tier as MPEG-1 audio's ``mp3_frame_info``
(operators/mp3.py:134) — codec, profile, sample rate, channels, frame
count, duration estimate — while the payload DECODE stays the
documented soundfile/ffmpeg slot (an AAC filterbank is a much larger
DSP surface than Layer II and there is no trustworthy spec-table
source on this rig; the Layer III precedent applies).

Both walks parse PUBLIC container formats:

- **ADTS** (raw ``.aac`` streams; ISO 14496-3 §1.A.3): 12-bit 0xFFF
  syncword + layer '00', 7/9-byte headers carrying profile
  (Audio Object Type − 1), sampling-frequency index, channel
  configuration, and a 13-bit frame length that chains frames exactly
  like MPEG audio's ``frame_bytes`` walk. Each raw data block is 1024
  samples; duration sums blocks/rate per frame, so VBR is exact.
- **MP4/M4A** (ISO 14496-12 boxes): size+type box walk descending
  moov → trak → mdia, reading ``mdhd`` (timescale + duration),
  ``hdlr`` (the audio track), ``stsd``'s ``mp4a`` sample entry
  (channels, sample rate), and its ``esds`` descriptor chain
  (objectTypeIndication 0x40/0x66-0x68 = AAC; the
  AudioSpecificConfig's 5-bit audio object type when present).

Malformed payloads raise ``ValueError`` (the codec contract), so the
crawl feature path quarantines them under the shared
``MALFORMED_ERRORS`` contract instead of dying.

Reference anchor: no counterpart in the reference (record/replay
tool); SURVEY.md §2.5a E98 addendum.
"""

from __future__ import annotations

from typing import Any

# ISO 14496-3 samplingFrequencyIndex table (index 13/14 reserved)
ADTS_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350, None, None, None,
)

#: MPEG-4 audio object types for the profile field (profile = AOT − 1
#: in ADTS); only the 2-bit-expressible ones can appear there.
ADTS_PROFILES = ("AAC Main", "AAC LC", "AAC SSR", "AAC LTP")

#: esds objectTypeIndication values that mean AAC-family audio
_AAC_OTI = {0x40: "aac", 0x66: "aac", 0x67: "aac", 0x68: "aac"}


#: AOT → human profile name (ISO 14496-3 table 1.17, the common ones)
_AOT_NAMES = {
    1: "AAC Main", 2: "AAC LC", 3: "AAC SSR", 4: "AAC LTP",
    5: "SBR", 23: "ER AAC LD", 29: "PS", 39: "ELD",
}


def parse_audio_specific_config(data: bytes) -> dict[str, Any]:
    """Full AudioSpecificConfig parse (ISO 14496-3 §1.6.2.1) — the
    extension bits the r12 tier walked past (r13, VERDICT r12 item 7):
    audioObjectType (with the 31+6-bit escape), samplingFrequencyIndex
    (with the 15 → explicit-24-bit escape), channelConfiguration, and
    the HIERARCHICAL HE signaling — AOT 5 (SBR, HE-AAC) / 29 (PS,
    HE-AACv2) carry an extensionSamplingFrequencyIndex and the base
    object type follows, so crawl audio stats can distinguish LC from
    HE profiles and report the post-SBR output rate. (ADTS cannot
    signal HE in its 2-bit profile field — implicit SBR there is
    detectable only by decoding; documented boundary.)"""
    from kinesis_vcr_spark.operators.flac import _BitReader  # noqa: PLC0415

    br = _BitReader(data)

    def read_aot() -> int:
        aot = br.read(5)
        if aot == 31:
            aot = 32 + br.read(6)
        return aot

    def read_rate() -> int:
        idx = br.read(4)
        if idx == 15:
            return br.read(24)
        rate = ADTS_SAMPLE_RATES[idx]
        if rate is None:
            raise ValueError(f"reserved samplingFrequencyIndex {idx}")
        return rate

    aot = read_aot()
    rate = read_rate()
    chan = br.read(4)
    out: dict[str, Any] = {
        "audio_object_type": aot,
        "base_object_type": aot,
        "sampling_rate": rate,
        "channel_configuration": chan,
        "sbr": False,
        "ps": False,
        "extension_sampling_rate": None,
    }
    if aot in (5, 29):
        out["sbr"] = True
        out["ps"] = aot == 29
        out["extension_sampling_rate"] = read_rate()
        out["base_object_type"] = read_aot()
    base = out["base_object_type"]
    if aot == 5:
        out["profile"] = "HE-AAC"
    elif aot == 29:
        out["profile"] = "HE-AACv2"
    else:
        out["profile"] = _AOT_NAMES.get(base, f"AOT {base}")
    return out


def is_adts(payload: bytes) -> bool:
    """True iff the payload starts at an ADTS sync: 12-bit 0xFFF plus
    layer bits '00' (MPEG audio frames use layer 01/10/11 there, so
    this also disambiguates AAC from .mp3 sharing the 0xFF lead)."""
    return (
        len(payload) >= 7
        and payload[0] == 0xFF
        and (payload[1] & 0xF6) == 0xF0
    )


def is_mp4(payload: bytes) -> bool:
    """True iff the payload opens with an MP4 ``ftyp`` box."""
    return len(payload) >= 12 and payload[4:8] == b"ftyp"


def adts_info(payload: bytes) -> dict[str, Any]:
    """Metadata of an ADTS AAC stream via a structural whole-chain
    frame walk — ``{codec, profile, sample_rate, channels, n_frames,
    duration_s, vbr}`` (``vbr`` flags varying frame lengths; duration
    sums per-frame raw-data-block counts, exact for VBR too)."""
    if not is_adts(payload):
        raise ValueError("no ADTS sync found")
    off = 0
    n = len(payload)
    first: dict[str, Any] | None = None
    n_frames = 0
    duration = 0.0
    frame_lengths = set()
    while off + 7 <= n:
        if not (payload[off] == 0xFF and (payload[off + 1] & 0xF6) == 0xF0):
            break  # trailing junk/tag after the chain
        protection_absent = payload[off + 1] & 0x01
        profile = (payload[off + 2] >> 6) & 0x03
        sf_index = (payload[off + 2] >> 2) & 0x0F
        rate = ADTS_SAMPLE_RATES[sf_index]
        if rate is None:
            raise ValueError(
                f"reserved ADTS sampling_frequency_index {sf_index}"
            )
        channels = ((payload[off + 2] & 0x01) << 2) | (
            (payload[off + 3] >> 6) & 0x03
        )
        frame_len = (
            ((payload[off + 3] & 0x03) << 11)
            | (payload[off + 4] << 3)
            | ((payload[off + 5] >> 5) & 0x07)
        )
        header_len = 7 if protection_absent else 9
        if frame_len < header_len:
            raise ValueError(
                f"ADTS frame_length {frame_len} shorter than its header"
            )
        if off + frame_len > n:
            break  # truncated final frame: count only intact frames
        blocks = (payload[off + 6] & 0x03) + 1
        if first is None:
            first = {
                "profile": ADTS_PROFILES[profile],
                "sample_rate": rate,
                "channels": channels,
            }
        n_frames += 1
        duration += blocks * 1024 / rate
        frame_lengths.add(frame_len)
        off += frame_len
    if first is None or n_frames == 0:
        raise ValueError("no complete ADTS frame")
    return {
        "codec": "aac",
        "profile": first["profile"],
        "sample_rate": first["sample_rate"],
        "channels": first["channels"],
        "n_frames": n_frames,
        "duration_s": round(duration, 6),
        "vbr": len(frame_lengths) > 1,
    }


def _boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the ISO-BMFF boxes in
    [start, end); handles 64-bit largesize boxes; malformed sizes
    raise ValueError."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(payload[pos : pos + 4], "big")
        btype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box header")
            size = int.from_bytes(payload[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:  # box extends to the end of the enclosing scope
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(
                f"box {btype!r} size {size} overruns its container"
            )
        yield btype, body, pos + size
        pos += size


def _find_box(payload: bytes, start: int, end: int, btype: bytes):
    for t, b, e in _boxes(payload, start, end):
        if t == btype:
            return b, e
    return None


def _parse_esds(payload: bytes, start: int, end: int) -> dict[str, Any]:
    """Walk the esds ES_Descriptor chain to the DecoderConfigDescriptor
    (objectTypeIndication) and, when present, the AudioSpecificConfig's
    5-bit audioObjectType."""
    pos = start + 4  # version + flags

    def read_descr(p: int) -> tuple[int, int, int]:
        """(tag, body_start, body_end) of the descriptor at p —
        expandable length: 1-4 bytes of 7-bit groups."""
        if p >= end:
            raise ValueError("truncated esds descriptor")
        tag = payload[p]
        p += 1
        length = 0
        for _ in range(4):
            if p >= end:
                raise ValueError("truncated esds descriptor length")
            b = payload[p]
            p += 1
            length = (length << 7) | (b & 0x7F)
            if not b & 0x80:
                break
        if p + length > end:
            raise ValueError("esds descriptor overruns the box")
        return tag, p, p + length

    tag, p, e = read_descr(pos)
    if tag != 0x03:  # ES_Descriptor
        raise ValueError(f"esds: expected ES_Descriptor, got tag {tag:#x}")
    q = p + 2  # ES_ID
    flags = payload[q]
    q += 1
    if flags & 0x80:
        q += 2  # dependsOn_ES_ID
    if flags & 0x40:
        q += 1 + payload[q]  # URL
    if flags & 0x20:
        q += 2  # OCR ES id
    tag, p2, e2 = read_descr(q)
    if tag != 0x04:  # DecoderConfigDescriptor
        raise ValueError(
            f"esds: expected DecoderConfigDescriptor, got tag {tag:#x}"
        )
    oti = payload[p2]
    out: dict[str, Any] = {"object_type_indication": oti}
    # DecoderSpecificInfo (AudioSpecificConfig) is optional
    q2 = p2 + 13
    if q2 < e2:
        tag, p3, e3 = read_descr(q2)
        if tag == 0x05 and p3 < end:
            # full ASC parse (r13): AOT escapes, rate escapes, and the
            # AOT-5/29 HE extension (SBR/PS + extension rate)
            out["asc"] = parse_audio_specific_config(payload[p3:e3])
            out["audio_object_type"] = out["asc"]["audio_object_type"]
    return out


def m4a_info(payload: bytes) -> dict[str, Any]:
    """Metadata of an MP4/M4A container's FIRST audio track —
    ``{codec, sample_rate, channels, duration_s, timescale,
    audio_object_type}``. ``codec`` is 'aac' for esds
    objectTypeIndication 0x40/0x66-0x68, else the stsd entry's fourcc.
    Non-audio-only files (no ``soun`` track) raise ValueError."""
    if not is_mp4(payload):
        raise ValueError("not an MP4/M4A file (no ftyp box)")
    moov = _find_box(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("MP4 has no moov box")
    for t, tb, te in _boxes(payload, *moov):
        if t != b"trak":
            continue
        mdia = _find_box(payload, tb, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _find_box(payload, *mdia, b"hdlr")
        if hdlr is None or payload[hdlr[0] + 8 : hdlr[0] + 12] != b"soun":
            continue
        mdhd = _find_box(payload, *mdia, b"mdhd")
        if mdhd is None:
            raise ValueError("audio trak has no mdhd box")
        mb = mdhd[0]
        version = payload[mb]
        if version == 1:
            timescale = int.from_bytes(payload[mb + 20 : mb + 24], "big")
            duration = int.from_bytes(payload[mb + 24 : mb + 32], "big")
        else:
            timescale = int.from_bytes(payload[mb + 12 : mb + 16], "big")
            duration = int.from_bytes(payload[mb + 16 : mb + 20], "big")
        if timescale == 0:
            raise ValueError("mdhd timescale is zero")
        minf = _find_box(payload, *mdia, b"minf")
        stbl = minf and _find_box(payload, *minf, b"stbl")
        stsd = stbl and _find_box(payload, *stbl, b"stsd")
        if not stsd:
            raise ValueError("audio trak has no stsd box")
        sb = stsd[0] + 8  # version/flags + entry_count
        entries = list(_boxes(payload, sb, stsd[1]))
        if not entries:
            raise ValueError("stsd has no sample entries")
        fourcc, eb, ee = entries[0]
        # SampleEntry: 6 reserved + 2 data_ref_index, then
        # AudioSampleEntry: 8 reserved + channels(2) + samplesize(2) +
        # 4 predefined/reserved + samplerate (16.16 fixed)
        channels = int.from_bytes(payload[eb + 16 : eb + 18], "big")
        rate = int.from_bytes(payload[eb + 24 : eb + 28], "big") >> 16
        out: dict[str, Any] = {
            "codec": fourcc.decode("latin-1").strip(),
            "sample_rate": rate,
            "channels": channels,
            "duration_s": round(duration / timescale, 6),
            "timescale": timescale,
            "audio_object_type": None,
            "profile": None,
            "sbr": False,
            "ps": False,
            "extension_sampling_rate": None,
        }
        if fourcc == b"mp4a":
            esds = _find_box(payload, eb + 28, ee, b"esds")
            if esds is not None:
                info = _parse_esds(payload, *esds)
                oti = info["object_type_indication"]
                out["codec"] = _AAC_OTI.get(oti, f"oti_{oti:#x}")
                out["audio_object_type"] = info.get("audio_object_type")
                asc = info.get("asc")
                if asc is not None:
                    # HE profiles (r13): surface SBR/PS and the
                    # post-SBR output rate so crawl stats distinguish
                    # LC from HE without decoding
                    out["profile"] = asc["profile"]
                    out["sbr"] = asc["sbr"]
                    out["ps"] = asc["ps"]
                    out["extension_sampling_rate"] = (
                        asc["extension_sampling_rate"]
                    )
        return out
    raise ValueError("MP4 has no audio (soun) track")


def aac_info(payload: bytes) -> dict[str, Any]:
    """Dispatch: ADTS stream or MP4/M4A container → metadata dict
    (the AAC analogue of ``mp3_frame_info``)."""
    if is_adts(payload):
        return adts_info(payload)
    if is_mp4(payload):
        return m4a_info(payload)
    raise ValueError("neither ADTS nor MP4/M4A")
