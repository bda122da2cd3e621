"""Non-integer-PCM WAV decode — pure Python/numpy, no
soundfile/ffmpeg (the container has no audio libs; same in-repo-codec
discipline as the image decoders). Covers IMA/DVI + Microsoft ADPCM,
IEEE-float PCM (tags 0x03: 32/64-bit), and ITU-T G.711 A-law/mu-law
(tags 0x06/0x07, expansion tables COMPUTED from the closed-form
reference rules and pinned on canonical anchors).

ADPCM scope: the two 4-bit ADPCM codings that actually occur in
RIFF/WAVE corpora — IMA/DVI ADPCM (wFormatTag 0x0011, the IMA "DVI4" algorithm:
89-entry step table, 8-entry index adaptation, per-block per-channel
4-byte state header, nibbles interleaved in 4-byte channel groups) and
Microsoft ADPCM (wFormatTag 0x0002: 7 fixed coefficient pairs, 16-entry
delta adaptation, per-block per-channel 7-byte header carrying the two
seed samples). Both are block codecs: every ``nBlockAlign`` bytes is an
independently decodable unit, which is also what makes them trivially
partition-parallel at scale (a Pandas-UDF batch can split a long file
on block boundaries; the envelope stage never needs cross-block state).

stdlib ``wave`` refuses non-PCM streams outright (``wave.Error:
unknown format``), so :func:`kinesis_vcr_spark.operators.multimodal.
decode_audio` falls back here for RIFF files whose fmt tag is not PCM.
MPEG-1 Layer I/II decodes in
:mod:`kinesis_vcr_spark.operators.mp3`; MP3 Layer III/AAC/Vorbis stay
the documented soundfile/ffmpeg ``NotImplementedError`` slot.

Tables and block layouts follow the public IMA ADPCM reference
algorithm (IMA Digital Audio Focus/Technical Working Groups, 1992) and
the public Microsoft WAVE format documentation; the tests encode with
an INDEPENDENT spec-rule encoder written from the same documents (the
fixture discipline that landed GIF/TIFF first-try).

Reference anchor: no counterpart in the reference (record/replay
tool); SURVEY.md §2.5a multimodal family, formerly the lossy-audio
``NotImplementedError`` slot.
"""

from __future__ import annotations

import struct

import numpy as np

# IMA/DVI ADPCM tables (public reference algorithm)
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

# Microsoft ADPCM tables (public WAVE format documentation)
_MS_COEFS = [
    (256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208),
    (392, -232),
]
_MS_ADAPT = np.array([
    230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307,
    230, 230, 230,
], dtype=np.int32)


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """ITU-T G.711 expansion tables, COMPUTED from the closed-form
    decode rules (the public reference implementation's alaw2linear /
    ulaw2linear), not transcribed: (A-law, mu-law) code -> int16."""
    codes = np.arange(256)
    u = ~codes & 0xFF
    t = ((((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)).astype(np.int32)
    mu = np.where(u & 0x80, 0x84 - t, t - 0x84)
    a = codes ^ 0x55
    seg = (a & 0x70) >> 4
    base = (a & 0x0F) << 4
    mag = np.where(
        seg == 0, base + 8,
        np.where(seg == 1, base + 0x108,
                 (base + 0x108) << np.maximum(seg - 1, 0)),
    )
    al = np.where(a & 0x80, mag, -mag)
    return al.astype(np.int16), mu.astype(np.int16)


_ALAW_TABLE, _MULAW_TABLE = _g711_tables()


def _parse_riff(payload: bytes) -> tuple[dict, bytes]:
    """fmt fields + data bytes of a RIFF/WAVE file (ValueError on a
    malformed container — the quarantine paths catch ValueError)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt: dict | None = None
    data: bytes | None = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            tag, ch, rate, _avg, align, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = {
                "tag": tag, "channels": ch, "rate": rate,
                "block_align": align, "bits": bits,
            }
            if len(body) >= 20:
                (fmt["samples_per_block"],) = struct.unpack_from(
                    "<H", body, 18
                )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE file missing fmt or data chunk")
    return fmt, data


def _ima_decode_block(block: bytes, channels: int) -> np.ndarray:
    """One IMA block → int16 array [frames, channels]."""
    preds = np.zeros(channels, dtype=np.int32)
    idxs = np.zeros(channels, dtype=np.int32)
    for c in range(channels):
        pred, idx, _rsv = struct.unpack_from("<hBB", block, 4 * c)
        if idx > 88:
            raise ValueError("IMA ADPCM step index out of range")
        preds[c], idxs[c] = pred, idx
    body = block[4 * channels :]
    # nibbles come in 4-byte groups per channel, channels interleaved;
    # 8 samples per channel per group
    group_span = 4 * channels
    n_groups = len(body) // group_span
    frames = 1 + n_groups * 8
    out = np.empty((frames, channels), dtype=np.int16)
    out[0] = preds  # the header predictor IS sample 0
    for g in range(n_groups):
        for c in range(channels):
            chunk = body[g * group_span + 4 * c : g * group_span + 4 * c + 4]
            pred, idx = int(preds[c]), int(idxs[c])
            for i in range(8):
                nib = (chunk[i >> 1] >> (4 * (i & 1))) & 0xF
                step = int(_IMA_STEPS[idx])
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + int(_IMA_INDEX[nib & 7])))
                out[1 + g * 8 + i, c] = pred
            preds[c], idxs[c] = pred, idx
    return out


def _ms_decode_block(block: bytes, channels: int) -> np.ndarray:
    """One Microsoft ADPCM block → int16 array [frames, channels]."""
    co1 = np.zeros(channels, dtype=np.int32)
    co2 = np.zeros(channels, dtype=np.int32)
    delta = np.zeros(channels, dtype=np.int32)
    s1 = np.zeros(channels, dtype=np.int32)
    s2 = np.zeros(channels, dtype=np.int32)
    for c in range(channels):
        pred_idx = block[c]
        if pred_idx >= len(_MS_COEFS):
            raise ValueError("MS ADPCM predictor index out of range")
        co1[c], co2[c] = _MS_COEFS[pred_idx]
    off = channels
    for c in range(channels):
        (delta[c],) = struct.unpack_from("<h", block, off + 2 * c)
    off += 2 * channels
    for c in range(channels):
        (s1[c],) = struct.unpack_from("<h", block, off + 2 * c)
    off += 2 * channels
    for c in range(channels):
        (s2[c],) = struct.unpack_from("<h", block, off + 2 * c)
    off += 2 * channels
    body = block[off:]
    # one 4-bit code per sample, channels interleaved; codes that do
    # not fill a whole frame (truncated final block) are dropped
    n_codes = (len(body) * 2 // channels) * channels
    frames = 2 + n_codes // channels
    out = np.empty((frames, channels), dtype=np.int16)
    out[0] = s2  # sample2 is the OLDER seed
    out[1] = s1
    for k in range(n_codes):
        byte = body[k >> 1]
        code = (byte >> 4) if (k & 1) == 0 else (byte & 0xF)  # high first
        c = k % channels
        signed = code - 16 if code & 8 else code
        # the spec's C semantics truncate the /256 toward zero; a plain
        # ``>> 8`` floors, which is off by one whenever the coefficient
        # sum is negative and not a multiple of 256 (predictors with
        # co2 != 0) — the error feeds back through s1/s2. delta
        # adaptation below keeps ``>> 8``: delta stays positive, where
        # floor and truncation agree.
        t = int(s1[c]) * int(co1[c]) + int(s2[c]) * int(co2[c])
        pred = -((-t) >> 8) if t < 0 else t >> 8
        sample = pred + signed * int(delta[c])
        sample = max(-32768, min(32767, sample))
        s2[c], s1[c] = s1[c], sample
        delta[c] = max(16, (int(_MS_ADAPT[code]) * int(delta[c])) >> 8)
        out[2 + k // channels, c] = sample
    return out


def adpcm_wav_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode an ADPCM RIFF/WAVE file →
    ``(n_frames, n_channels, int16 samples [frames, channels])``.
    Raises ValueError on malformed containers and NotImplementedError
    for format tags that are neither IMA (0x11) nor MS (0x02) ADPCM."""
    fmt, data = _parse_riff(payload)
    channels = fmt["channels"]
    align = fmt["block_align"]
    if channels < 1 or align < 1:
        raise ValueError("WAVE fmt chunk has invalid channels/blockAlign")
    if fmt["tag"] == 0x11:
        if fmt["bits"] != 4:
            raise ValueError("IMA ADPCM requires 4 bits per sample")
        if align < 4 * channels or (align - 4 * channels) % (4 * channels):
            raise ValueError("IMA ADPCM block align inconsistent")
        decode_block = _ima_decode_block
    elif fmt["tag"] == 0x02:
        if align < 7 * channels:
            raise ValueError("MS ADPCM block align inconsistent")
        decode_block = _ms_decode_block
    elif fmt["tag"] == 0x03:  # IEEE float PCM (32/64-bit)
        if fmt["bits"] not in (32, 64):
            raise ValueError("float WAVE must be 32- or 64-bit")
        dt = np.float32 if fmt["bits"] == 32 else np.float64
        width = fmt["bits"] // 8
        n = len(data) // (width * channels)
        vals = np.frombuffer(data, dt, n * channels).astype(np.float64)
        ints = np.clip(np.rint(vals * 32768.0), -32768, 32767)
        samples = ints.astype(np.int16).reshape(n, channels)
        return n, channels, samples
    elif fmt["tag"] in (0x06, 0x07):  # ITU-T G.711 A-law / mu-law
        table = (_ALAW_TABLE if fmt["tag"] == 0x06 else _MULAW_TABLE)
        codes = np.frombuffer(data, np.uint8)
        n = len(codes) // channels
        samples = table[codes[: n * channels]].reshape(n, channels)
        return n, channels, samples
    elif fmt["tag"] == 0x01:
        raise ValueError("PCM WAVE belongs to the stdlib wave path")
    else:
        raise NotImplementedError(
            f"WAVE format tag 0x{fmt['tag']:04x} not supported "
            "(PCM/float/A-law/mu-law/IMA-ADPCM/MS-ADPCM only; MP3 "
            "Layer III/AAC are the soundfile/ffmpeg slot)"
        )
    blocks = []
    for b0 in range(0, len(data) - align + 1, align):
        blocks.append(decode_block(data[b0 : b0 + align], channels))
    # a trailing short block decodes with whatever whole nibble groups
    # it carries (same tolerance as a truncated final PCM frame)
    rem = len(data) % align
    min_hdr = (4 if fmt["tag"] == 0x11 else 7) * channels
    if rem >= min_hdr:
        tail = data[len(data) - rem :]
        if fmt["tag"] == 0x11:
            # body must be whole 4-byte-per-channel groups
            rem -= (rem - 4 * channels) % (4 * channels)
        blocks.append(decode_block(tail[:rem], channels))
    if not blocks:
        return 0, channels, np.zeros((0, channels), dtype=np.int16)
    samples = np.vstack(blocks)
    return samples.shape[0], channels, samples


# ------------------------------------------------- AU / AIFF containers

def au_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Sun/NeXT AU (``.snd``) decode → (frames, channels, int16
    samples [frames, channels]). Public header layout: magic, data
    offset, data size, encoding, sample rate, channels — all 32-bit
    big-endian. Encodings covered: 1 µ-law, 27 A-law (G.711 tables),
    2/3/4/5 linear PCM 8/16/24/32-bit BE, 6/7 IEEE float BE."""
    if payload[:4] != b".snd" or len(payload) < 24:
        raise ValueError("not an AU (.snd) file")
    off, size, enc, _rate, channels = struct.unpack_from(">IIIII", payload, 4)
    if channels < 1:
        raise ValueError("AU header has zero channels")
    end = len(payload) if size == 0xFFFFFFFF else min(len(payload), off + size)
    data = payload[off:end]
    if enc == 1:
        samples = _MULAW_TABLE[np.frombuffer(data, np.uint8)]
    elif enc == 27:
        samples = _ALAW_TABLE[np.frombuffer(data, np.uint8)]
    elif enc == 2:  # 8-bit linear PCM is SIGNED in AU
        samples = np.frombuffer(data, np.int8).astype(np.int16) << 8
    elif enc == 3:
        samples = np.frombuffer(data, ">i2").astype(np.int16)
    elif enc in (4, 5):  # 24/32-bit -> take the top 16 bits
        if enc == 4:
            b = np.frombuffer(data, np.uint8)
            b = b[: len(b) - len(b) % 3].reshape(-1, 3).astype(np.int32)
            v = (b[:, 0] << 16) | (b[:, 1] << 8) | b[:, 2]
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            samples = (v >> 8).astype(np.int16)
        else:
            samples = (np.frombuffer(data, ">i4") >> 16).astype(np.int16)
    elif enc in (6, 7):
        dt = ">f4" if enc == 6 else ">f8"
        vals = np.frombuffer(data, dt).astype(np.float64)
        samples = np.clip(np.rint(vals * 32768.0), -32768, 32767).astype(
            np.int16
        )
    else:
        raise NotImplementedError(f"AU encoding {enc} (G.72x ADPCM) "
                                  "not supported")
    n = len(samples) // channels
    return n, channels, samples[: n * channels].reshape(n, channels)


def _f80(b: bytes) -> float:
    """80-bit IEEE extended float (AIFF sample rate field)."""
    se = struct.unpack_from(">H", b, 0)[0]
    mant = struct.unpack_from(">Q", b, 2)[0]
    if se == 0 and mant == 0:
        return 0.0
    sign = -1.0 if se & 0x8000 else 1.0
    exp = (se & 0x7FFF) - 16383 - 63
    return sign * mant * 2.0 ** exp


def aiff_decode(payload: bytes) -> tuple[int, int, np.ndarray]:
    """AIFF decode → (frames, channels, int16 samples): IFF FORM/AIFF
    container, COMM (channels, frames, bits, 80-bit-float rate) +
    SSND (offset/blocksize header then big-endian PCM). Compressed
    AIFC variants raise the documented slot."""
    if payload[:4] != b"FORM" or payload[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF file")
    if payload[8:12] == b"AIFC":
        raise NotImplementedError("compressed AIFC requires ffmpeg")
    pos = 12
    comm = ssnd = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from(">I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"COMM":
            if len(body) < 18:
                raise ValueError("AIFF COMM chunk truncated")
            channels, n_frames, bits = struct.unpack_from(">hIh", body, 0)
            comm = (channels, n_frames, bits, _f80(body[8:18]))
        elif cid == b"SSND":
            if len(body) < 8:
                raise ValueError("AIFF SSND header truncated")
            data_off, _block = struct.unpack_from(">II", body, 0)
            ssnd = body[8 + data_off :]
        pos += 8 + size + (size & 1)
    if comm is None or ssnd is None:
        raise ValueError("AIFF missing COMM or SSND chunk")
    channels, n_frames, bits, _rate = comm
    if channels < 1:
        raise ValueError("AIFF has zero channels")
    if bits == 16:
        samples = np.frombuffer(ssnd, ">i2").astype(np.int16)
    elif bits == 8:  # AIFF 8-bit is signed
        samples = np.frombuffer(ssnd, np.int8).astype(np.int16) << 8
    elif bits == 24:
        b = np.frombuffer(ssnd, np.uint8)
        b = b[: len(b) - len(b) % 3].reshape(-1, 3).astype(np.int32)
        v = (b[:, 0] << 16) | (b[:, 1] << 8) | b[:, 2]
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        samples = (v >> 8).astype(np.int16)
    elif bits == 32:
        samples = (np.frombuffer(ssnd, ">i4") >> 16).astype(np.int16)
    else:
        raise NotImplementedError(f"AIFF bit depth {bits}")
    n = min(len(samples) // channels, n_frames)
    return n, channels, samples[: n * channels].reshape(n, channels)
