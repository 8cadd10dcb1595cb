"""Audio container header walks — MP3 (MPEG-1 Layer III frames +
ID3v2 skip), FLAC (STREAMINFO), and Ogg Opus (OpusHead) — the S4-class
metadata breadth for the formats an audio-dataset scan actually meets
next to WAV (the reference ingests WAV only, src/main.rs:760-769; these
extend the same keep-with-fallback header-walk contract to the
compressed containers WITHOUT needing a codec: sample rate, channels,
and duration all live in headers).

Public specs: ISO/IEC 11172-3 (MPEG-1 audio framing), id3.org (ID3v2
syncsafe sizes), xiph.org FLAC format (METADATA_BLOCK_STREAMINFO), and
RFC 7845 (Ogg encapsulation for Opus). All parsing is pure
struct/integer arithmetic; malformed input -> (None, 0, 0, 0), the
same keep-with-zeros contract as ``wav.parse_wav_header``'s (0.0, 0).
"""

from __future__ import annotations

import struct

# MPEG-1 Layer III bitrates (kbps) and sample rates by header index
MP3_BITRATES = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
MP3_RATES = (44100, 48000, 32000)
MP3_SAMPLES_PER_FRAME = 1152


def _skip_id3v2(data: bytes) -> int:
    """Return the offset past an ID3v2 tag (syncsafe 28-bit size), or 0
    when none is present."""
    if len(data) >= 10 and data[:3] == b"ID3":
        size = (
            ((data[6] & 0x7F) << 21)
            | ((data[7] & 0x7F) << 14)
            | ((data[8] & 0x7F) << 7)
            | (data[9] & 0x7F)
        )
        return 10 + size
    return 0


def parse_mp3_header(
    data: bytes | None,
) -> tuple[str | None, int, int, int]:
    """Walk MPEG-1 Layer III frames: (fmt, sample_rate, channels,
    duration_ms). Duration = frames * 1152 / rate — exact integer
    milliseconds (floor). Stops at the first invalid header; needs at
    least one whole valid frame, and all frames must agree on rate and
    mode (a real CBR/ABR stream does)."""
    try:
        if not data:
            return None, 0, 0, 0
        pos = _skip_id3v2(data)
        n = len(data)
        frames = 0
        rate = 0
        channels = 0
        while pos + 4 <= n:
            b0, b1, b2, b3 = data[pos : pos + 4]
            if b0 != 0xFF or (b1 & 0xFE) != 0xFA:  # sync + MPEG-1 L3
                break
            bi = b2 >> 4
            sri = (b2 >> 2) & 0x3
            pad = (b2 >> 1) & 0x1
            mode = b3 >> 6
            if bi in (0, 15) or sri == 3:
                break
            sr = MP3_RATES[sri]
            ch = 1 if mode == 3 else 2
            if frames and (sr != rate or ch != channels):
                break
            fsize = (144_000 * MP3_BITRATES[bi]) // sr + pad
            if fsize < 4 or pos + fsize > n:
                break
            rate, channels = sr, ch
            frames += 1
            pos += fsize
        if frames == 0:
            return None, 0, 0, 0
        dur_ms = frames * MP3_SAMPLES_PER_FRAME * 1000 // rate
        return "mp3", rate, channels, dur_ms
    except Exception:
        return None, 0, 0, 0


def parse_flac_header(
    data: bytes | None,
) -> tuple[str | None, int, int, int]:
    """FLAC STREAMINFO: (fmt, sample_rate, channels, duration_ms) from
    the fixed 34-byte first metadata block (rate 20 bits, channels-1
    3 bits, bps-1 5 bits, total samples 36 bits)."""
    try:
        if not data or len(data) < 4 + 4 + 34 or data[:4] != b"fLaC":
            return None, 0, 0, 0
        btype = data[4] & 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + data[5:8])
        if btype != 0 or blen != 34:
            return None, 0, 0, 0
        si = data[8 : 8 + 34]
        packed = int.from_bytes(si[10:18], "big")
        rate = packed >> 44
        channels = ((packed >> 41) & 0x7) + 1
        total = packed & ((1 << 36) - 1)
        if rate == 0:
            return None, 0, 0, 0
        return "flac", rate, channels, total * 1000 // rate
    except Exception:
        return None, 0, 0, 0


def parse_opus_header(
    data: bytes | None,
) -> tuple[str | None, int, int, int]:
    """Ogg Opus: (fmt, input_sample_rate, channels, 0) from the
    OpusHead packet on the first Ogg page (RFC 7845 §5.1; duration
    lives on the LAST page's granule, so header-only reports 0)."""
    try:
        if not data or len(data) < 28 or data[:4] != b"OggS":
            return None, 0, 0, 0
        nsegs = data[26]
        off = 27 + nsegs
        if len(data) < off + 19 or data[off : off + 8] != b"OpusHead":
            return None, 0, 0, 0
        channels = data[off + 9]
        (rate,) = struct.unpack_from("<I", data, off + 12)
        return "opus", rate, channels, 0
    except Exception:
        return None, 0, 0, 0


# ADTS AAC sampling-frequency-index table (ISO/IEC 14496-3 §1.6.3.4,
# literal — indices 13/14 reserved, 15 escape)
ADTS_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)
ADTS_SAMPLES_PER_FRAME = 1024


def parse_adts_header(
    data: bytes | None,
) -> tuple[str | None, int, int, int]:
    """Walk ADTS AAC frames (the last reference-allow-list audio format
    without a header parse — audio/aac, src/main.rs:107-108): (fmt,
    sample_rate, channels, duration_ms). Header: 12-bit sync, MPEG
    version, layer 00, protection_absent (header 7 or 9 bytes), 2-bit
    profile, 4-bit frequency index (table above), 3-bit channel
    config, 13-bit frame length. Duration = frames * 1024 / rate,
    floor milliseconds. Frames must agree on rate/channels; stops at
    the first invalid header; (None, 0, 0, 0) fallback like the rest
    of the family."""
    try:
        if not data:
            return None, 0, 0, 0
        n = len(data)
        pos = 0
        frames = 0
        rate = 0
        channels = 0
        while pos + 7 <= n:
            b = data[pos : pos + 7]
            # sync FFF + layer 00 (b1: 1111 xxx where bits 2-1 = layer)
            if b[0] != 0xFF or (b[1] & 0xF6) != 0xF0:
                break
            sfi = (b[2] >> 2) & 0xF
            if sfi >= len(ADTS_RATES):
                break
            ch = ((b[2] & 0x1) << 2) | (b[3] >> 6)
            if ch == 0 or ch > 7:  # 0 = AOT-specific config, not ADTS
                break
            flen = ((b[3] & 0x3) << 11) | (b[4] << 3) | (b[5] >> 5)
            hdr_len = 7 if (b[1] & 0x1) else 9  # protection_absent
            if flen < hdr_len or pos + flen > n:
                break
            sr = ADTS_RATES[sfi]
            if frames and (sr != rate or ch != channels):
                break
            rate, channels = sr, ch
            frames += 1
            pos += flen
        if frames == 0:
            return None, 0, 0, 0
        dur_ms = frames * ADTS_SAMPLES_PER_FRAME * 1000 // rate
        return "aac", rate, channels, dur_ms
    except Exception:
        return None, 0, 0, 0


# ---------------------------------------------------------------------------
# Deterministic fixtures (oracle-recomputable by construction)
# ---------------------------------------------------------------------------


def synth_adts(doc_id: int) -> bytes:
    """ADTS AAC stream: frequency index doc_id % 13, channels
    1 + doc_id % 2, profile doc_id % 4, 2 + doc_id % 6 frames whose
    payload length varies per frame (5 + (doc_id + j) % 40), so the
    walk must take each frame's 13-bit length from its own header.
    Payloads are zero bytes — ADTS parsing never looks inside."""
    sfi = doc_id % 13
    ch = 1 + doc_id % 2
    profile = doc_id % 4
    out = bytearray()
    for j in range(2 + doc_id % 6):
        flen = 7 + 5 + (doc_id + j) % 40
        out += bytes(
            [
                0xFF,
                0xF1,  # MPEG-4, layer 00, protection absent
                (profile << 6) | (sfi << 2) | (ch >> 2),
                ((ch & 0x3) << 6) | (flen >> 11),
                (flen >> 3) & 0xFF,
                ((flen & 0x7) << 5) | 0x1F,
                0xFC,
            ]
        ) + b"\x00" * (flen - 7)
    return bytes(out)


def synth_mp3(doc_id: int) -> bytes:
    """ID3v2-prefixed MPEG-1 Layer III stream: rate index doc_id % 3,
    mono iff doc_id odd, 3 + doc_id % 5 frames with bitrate index
    1 + (doc_id + j) % 9 and padding j % 2 — frame sizes vary, so the
    walk must compute each one from the header it just read."""
    tag_pad = doc_id % 17
    id3 = b"ID3\x03\x00\x00" + bytes(
        [0, 0, (tag_pad >> 7) & 0x7F, tag_pad & 0x7F]
    ) + b"\x00" * tag_pad
    sri = doc_id % 3
    sr = MP3_RATES[sri]
    mode = 3 if doc_id % 2 else 0  # mono / stereo
    out = bytearray(id3)
    for j in range(3 + doc_id % 5):
        bi = 1 + (doc_id + j) % 9
        pad = j % 2
        fsize = (144_000 * MP3_BITRATES[bi]) // sr + pad
        hdr = bytes(
            [0xFF, 0xFB, (bi << 4) | (sri << 2) | (pad << 1), mode << 6]
        )
        out += hdr + b"\x00" * (fsize - 4)
    return bytes(out)


def synth_flac(doc_id: int) -> bytes:
    """fLaC + STREAMINFO: rate 8000 + (doc_id % 5) * 4000, channels
    1 + doc_id % 2, 16-bit, 1000 + doc_id % 997 total samples."""
    rate = 8000 + (doc_id % 5) * 4000
    channels = 1 + doc_id % 2
    total = 1000 + doc_id % 997
    packed = (rate << 44) | ((channels - 1) << 41) | (15 << 36) | total
    si = (
        struct.pack(">HH", 4096, 4096)
        + b"\x00" * 6
        + packed.to_bytes(8, "big")
        + b"\x00" * 16
    )
    assert len(si) == 34
    return b"fLaC" + b"\x80" + struct.pack(">I", 34)[1:] + si


def synth_opus(doc_id: int) -> bytes:
    """One BOS Ogg page carrying OpusHead: channels 1 + doc_id % 2,
    input rate 16000 + (doc_id % 4) * 8000."""
    head = (
        b"OpusHead"
        + bytes([1, 1 + doc_id % 2])
        + struct.pack("<H", 312)
        + struct.pack("<I", 16000 + (doc_id % 4) * 8000)
        + struct.pack("<h", 0)
        + b"\x00"
    )
    assert len(head) == 19
    page = (
        b"OggS\x00\x02"
        + b"\x00" * 8
        + struct.pack("<I", doc_id & 0xFFFFFFFF)
        + struct.pack("<I", 0)
        + b"\x00" * 4
        + bytes([1, len(head)])
        + head
    )
    return page


def parse_aiff_header(
    data: bytes | None,
) -> tuple[str | None, int, int, int]:
    """AIFF COMM chunk: (fmt, sample_rate, channels, duration_ms).
    AIFF is big-endian IFF (FORM/AIFF) and stores the sample rate as an
    80-bit IEEE 754 extended float — decoded here with pure integer
    arithmetic: rate = mantissa >> (16383 + 63 - exponent) for the
    integral rates audio uses. duration = frames * 1000 // rate."""
    try:
        if not data or len(data) < 12 or data[:4] != b"FORM" \
                or data[8:12] != b"AIFF":
            return None, 0, 0, 0
        pos = 12
        n = len(data)
        while pos + 8 <= n:
            cid = data[pos : pos + 4]
            (csize,) = struct.unpack_from(">I", data, pos + 4)
            body = pos + 8
            if cid == b"COMM" and csize >= 18 and body + 18 <= n:
                channels, frames, _bits = struct.unpack_from(
                    ">hIh", data, body
                )
                exp = int.from_bytes(data[body + 8 : body + 10], "big")
                mant = int.from_bytes(data[body + 10 : body + 18], "big")
                if exp & 0x8000 or mant == 0:
                    return None, 0, 0, 0
                shift = 16383 + 63 - exp
                if not 0 <= shift < 64:
                    return None, 0, 0, 0
                rate = mant >> shift
                if rate <= 0 or channels <= 0:
                    return None, 0, 0, 0
                return "aiff", rate, channels, frames * 1000 // rate
            pos = body + csize + (csize & 1)
        return None, 0, 0, 0
    except Exception:
        return None, 0, 0, 0


def decode_aiff_samples(data: bytes | None):
    """FULL AIFF sample decode (Apple "Audio IFF" 1.3, the big-endian
    sibling of RIFF/WAVE): COMM chunk (channels, frames, bits, 80-bit
    extended-float rate via the same pure-integer expansion as
    parse_aiff_header) then the SSND chunk (u32 offset + u32 block
    size, then big-endian PCM). Supports the two PCM widths AIFF
    ships in the wild: 16-bit signed BE and 8-bit signed (widened
    <<8 so downstream normalization is uniform, mirroring the WAV
    pcm8 path). Returns ``(rate, int16 ndarray of frames*channels
    interleaved samples)`` or ``None`` for anything malformed —
    missing/short chunks, unsupported widths, an SSND body smaller
    than COMM's frame count, or a nonsense rate."""
    import numpy as np

    try:
        if not data or len(data) < 12 or data[:4] != b"FORM" \
                or data[8:12] != b"AIFF":
            return None
        pos, n = 12, len(data)
        rate = channels = frames = bits = None
        ssnd = None
        while pos + 8 <= n:
            cid = data[pos : pos + 4]
            (csize,) = struct.unpack_from(">I", data, pos + 4)
            body = pos + 8
            if body + csize > n:
                return None
            if cid == b"COMM" and csize >= 18:
                channels, frames, bits = struct.unpack_from(
                    ">hIh", data, body
                )
                exp = int.from_bytes(data[body + 8 : body + 10], "big")
                mant = int.from_bytes(data[body + 10 : body + 18], "big")
                if exp & 0x8000 or mant == 0:
                    return None
                shift = 16383 + 63 - exp
                if not 0 <= shift < 64:
                    return None
                rate = mant >> shift
            elif cid == b"SSND" and csize >= 8:
                (off,) = struct.unpack_from(">I", data, body)
                if 8 + off > csize:
                    return None
                ssnd = data[body + 8 + off : body + csize]
            pos = body + csize + (csize & 1)
        if (rate is None or ssnd is None or rate <= 0 or channels <= 0
                or frames < 0 or bits not in (8, 16)):
            return None
        total = frames * channels
        width = bits // 8
        if len(ssnd) < total * width:
            return None
        raw = ssnd[: total * width]
        if bits == 16:
            s = np.frombuffer(raw, dtype=">i2").astype(np.int16)
        else:
            s = (
                np.frombuffer(raw, dtype=np.int8).astype(np.int16) << 8
            )
        return rate, s
    except Exception:
        return None


def encode_aiff(samples, rate: int, channels: int = 1,
                bits: int = 16) -> bytes:
    """Encode interleaved int16 samples as FORM/AIFF with a COMM chunk
    (true 80-bit extended-float rate) and an SSND chunk (offset 0,
    block 0). ``bits=16`` writes big-endian PCM16; ``bits=8`` writes
    signed bytes (the sample's high byte, AIFF's 8-bit convention —
    unlike WAV's unsigned-biased 8-bit)."""
    import numpy as np

    assert bits in (8, 16)
    s = np.asarray(samples, dtype=np.int16)
    frames = s.size // channels
    e = rate.bit_length() - 1
    exp = 16383 + e
    mant = rate << (63 - e)
    comm = (
        struct.pack(">hIh", channels, frames, bits)
        + exp.to_bytes(2, "big")
        + mant.to_bytes(8, "big")
    )
    if bits == 8:
        pcm = (s.astype(np.int16) >> 8).astype(np.int8).tobytes()
    else:
        pcm = s.astype(">i2").tobytes()
    ssnd = struct.pack(">II", 0, 0) + pcm
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
        + (b"\x00" if len(ssnd) & 1 else b"")
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def synth_aiff_md5(doc_id: int) -> bytes:
    """Deterministic AIFF sample fixture: rate from the id, mono/stereo
    alternating by parity, 48 + id % 41 frames, sample i = the centered
    16-bit md5 formula shared with the WAV/FLAC families (``af:``
    prefix over the INTERLEAVED index, so the oracle is one flat
    formula regardless of channel count). Every 5th doc stores 8-bit
    signed PCM (samples quantized to their high byte so decode<<8
    reproduces them exactly and the oracle's formula just masks the
    low byte)."""
    import hashlib

    import numpy as np

    rate = 8000 + (doc_id % 3) * 4000
    channels = 1 + doc_id % 2
    frames = 48 + doc_id % 41
    bits = 8 if doc_id % 5 == 0 else 16
    total = frames * channels
    vals = np.empty(total, dtype=np.int64)
    for i in range(total):
        vals[i] = (
            int(
                hashlib.md5(f"af:{doc_id}:{i}".encode()).hexdigest()[:4], 16
            )
            - 32768
        )
    if bits == 8:
        vals = (vals >> 8) << 8
    return encode_aiff(vals.astype(np.int16), rate, channels, bits)


def decode_au_samples(data: bytes | None):
    """Sun/NeXT AU (.au/.snd) decode — the third classic uncompressed
    audio container next to RIFF/WAVE and AIFF, and the one µ-law
    telephony corpora actually ship in. Big-endian header: ``.snd``
    magic, data offset, data size (0xFFFFFFFF = unknown → read to
    EOF), encoding, sample rate, channels. Supported encodings (the
    three that cover real .au corpora): 1 = G.711 µ-law (expanded via
    the same public ITU-T table as the WAV tag-7 path), 2 = 8-bit
    signed linear (widened <<8), 3 = 16-bit signed big-endian.
    Returns ``(rate, int16 ndarray)`` or ``None`` on anything
    malformed: bad magic, offset under the 24-byte header or past
    EOF, unsupported encoding, nonsense rate/channels."""
    import numpy as np

    from .wav import _mulaw_table

    try:
        if not data or len(data) < 24 or data[:4] != b".snd":
            return None
        off, size, enc, rate, channels = struct.unpack_from(">IIIII", data, 4)
        if off < 24 or off > len(data) or rate <= 0 or rate > 1_000_000 \
                or channels <= 0 or channels > 16:
            return None
        body = data[off:]
        if size != 0xFFFFFFFF:
            if size > len(body):
                return None
            body = body[:size]
        if enc == 1:  # µ-law
            codes = np.frombuffer(body, dtype=np.uint8)
            s = _mulaw_table()[codes]
        elif enc == 2:  # 8-bit signed linear
            s = (
                np.frombuffer(body, dtype=np.int8).astype(np.int16) << 8
            )
        elif enc == 3:  # 16-bit signed BE linear
            s = np.frombuffer(
                body[: len(body) // 2 * 2], dtype=">i2"
            ).astype(np.int16)
        else:
            return None
        if s.size == 0 or s.size % channels:
            return None
        return rate, s
    except Exception:
        return None


def encode_au(samples, rate: int, enc: int = 3,
              channels: int = 1) -> bytes:
    """Encode int16 samples as a .au stream. ``enc`` 3 writes 16-bit
    BE; 2 writes the high bytes as signed 8-bit; 1 compresses through
    the G.711 µ-law SEGMENT SEARCH (the inverse of the expansion
    table) so decode(encode(x)) is the table-quantized signal."""
    import numpy as np

    from .wav import _mulaw_table

    s = np.asarray(samples, dtype=np.int16)
    if enc == 3:
        body = s.astype(">i2").tobytes()
    elif enc == 2:
        body = (s >> 8).astype(np.int8).tobytes()
    elif enc == 1:
        table = _mulaw_table().astype(np.int64)
        # nearest-code quantization via the decode table (256 entries)
        idx = np.abs(
            s.astype(np.int64)[:, None] - table[None, :]
        ).argmin(axis=1)
        body = idx.astype(np.uint8).tobytes()
    else:
        raise ValueError(enc)
    hdr = b".snd" + struct.pack(
        ">IIIII", 24, len(body), enc, rate, channels
    )
    return hdr + body


def synth_au_md5(doc_id: int) -> bytes:
    """Deterministic AU fixture cycling all three supported encodings
    by ``doc_id % 3``: 0 → µ-law (code i = first md5 byte, ``au:``
    prefix — the exact fixture discipline of the WAV µ-law family),
    1 → 8-bit signed linear (centered-16-bit samples quantized to
    their high byte), 2 → 16-bit BE (the full centered md5 value).
    n = 40 + id % 37 samples, rate 8000/16000 by parity, mono.

    Note: the ``au:`` md5 keyspace is shared with ``wav.synth_wav_md5``
    (which predates this fixture) — same centered-16-bit value family,
    different containers and lengths; the oracles each state their own
    n/rate formulas, so the overlap is harmless and keeps the sample
    maths uniform across the audio families."""
    import hashlib

    import numpy as np

    n = 40 + doc_id % 37
    rate = 8000 + (doc_id % 2) * 8000
    enc_sel = doc_id % 3
    if enc_sel == 0:
        body = bytes(
            int(hashlib.md5(f"au:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
            for i in range(n)
        )
        return (
            b".snd"
            + struct.pack(">IIIII", 24, len(body), 1, rate, 1)
            + body
        )
    vals = np.empty(n, dtype=np.int64)
    for i in range(n):
        vals[i] = (
            int(
                hashlib.md5(f"au:{doc_id}:{i}".encode()).hexdigest()[:4], 16
            )
            - 32768
        )
    if enc_sel == 1:
        vals = (vals >> 8) << 8
        return encode_au(vals.astype(np.int16), rate, enc=2)
    return encode_au(vals.astype(np.int16), rate, enc=3)


def synth_aiff(doc_id: int) -> bytes:
    """FORM/AIFF with one COMM chunk: rate 8000 + (doc_id % 3) * 4000,
    channels 1 + doc_id % 2, 2000 + doc_id % 499 sample frames; the
    rate is encoded as a true 80-bit extended float."""
    rate = 8000 + (doc_id % 3) * 4000
    channels = 1 + doc_id % 2
    frames = 2000 + doc_id % 499
    e = rate.bit_length() - 1  # floor(log2(rate))
    exp = 16383 + e
    mant = rate << (63 - e)
    comm = (
        struct.pack(">hIh", channels, frames, 16)
        + exp.to_bytes(2, "big")
        + mant.to_bytes(8, "big")
    )
    body = b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm
    return b"FORM" + struct.pack(">I", len(body)) + body


# ---------------------------------------------------------------------------
# MP4 (ISO BMFF) — video container header walk
# ---------------------------------------------------------------------------


def parse_mp4_header(
    data: bytes | None,
) -> tuple[str | None, int, int, int]:
    """ISO BMFF (MP4/MOV) box walk: (fmt, timescale, n_tracks,
    duration_ms) from moov/mvhd (version 0: 32-bit timescale +
    duration; version 1: 64-bit duration) plus a count of trak boxes.
    Public spec: ISO/IEC 14496-12. Malformed -> (None, 0, 0, 0)."""
    try:
        if not data or len(data) < 16 or data[4:8] != b"ftyp":
            return None, 0, 0, 0
        n = len(data)

        def boxes(lo: int, hi: int):
            pos = lo
            while pos + 8 <= hi:
                (size,) = struct.unpack_from(">I", data, pos)
                btype = data[pos + 4 : pos + 8]
                if size < 8 or pos + size > hi:
                    return
                yield btype, pos + 8, pos + size
                pos += size

        for btype, body, end in boxes(0, n):
            if btype != b"moov":
                continue
            timescale = duration = 0
            n_tracks = 0
            for ctype, cbody, _cend in boxes(body, end):
                if ctype == b"mvhd" and _cend - cbody >= 20:
                    ver = data[cbody]
                    if ver == 1 and _cend - cbody >= 28:
                        (timescale,) = struct.unpack_from(
                            ">I", data, cbody + 20
                        )
                        (duration,) = struct.unpack_from(
                            ">Q", data, cbody + 24
                        )
                    else:
                        timescale, duration = struct.unpack_from(
                            ">II", data, cbody + 12
                        )
                elif ctype == b"trak":
                    n_tracks += 1
            if timescale == 0:
                return None, 0, 0, 0
            return "mp4", timescale, n_tracks, duration * 1000 // timescale
        return None, 0, 0, 0
    except Exception:
        return None, 0, 0, 0


def synth_mp4(doc_id: int) -> bytes:
    """ftyp + moov(mvhd v0 + N empty trak stubs): timescale from
    {600, 1000, 90000} by id, duration units 10000 + id % 9999,
    1 + id % 3 tracks."""
    ts = (600, 1000, 90000)[doc_id % 3]
    dur = 10000 + doc_id % 9999
    n_tracks = 1 + doc_id % 3

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"           # version 0 + flags
        + b"\x00" * 8                 # ctime, mtime
        + struct.pack(">II", ts, dur)
        + b"\x00" * 80,               # rate..next_track_id
    )
    traks = b"".join(
        box(b"trak", box(b"tkhd", b"\x00" * 84)) for _ in range(n_tracks)
    )
    return ftyp + box(b"moov", mvhd + traks)


# ---------------------------------------------------------------------------
# Ogg container page walk (RFC 3533). The reference MIME-filters
# audio/ogg (src/main.rs:106) but never parses it; this walks pages,
# verifies the page CRC, and reconstructs packet boundaries from the
# lacing values — the container-level integrity audit a corpus scrub
# needs before trusting granule-position durations.
# ---------------------------------------------------------------------------

# CRC-32 with polynomial 0x04c11db7, MSB-first, init 0, no final xor
# (RFC 3533 §6 — the table is DERIVED from the published polynomial,
# not transcribed from a dump; tests pin it against an independent
# bitwise long-division implementation).
_OGG_CRC_POLY = 0x04C11DB7
_OGG_CRC_TABLE = []
for _b in range(256):
    _r = _b << 24
    for _ in range(8):
        _r = ((_r << 1) ^ _OGG_CRC_POLY) if (_r & 0x80000000) else (_r << 1)
    _OGG_CRC_TABLE.append(_r & 0xFFFFFFFF)


def ogg_page_crc(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ byte
        ]
    return crc


def parse_ogg_pages(
    data: bytes | None,
) -> tuple[int, int, int, bool]:
    """Walk every Ogg page: (n_pages, n_packets, last_granule,
    crc_ok_all). Packet boundaries come from the lacing values (a
    value < 255 terminates a packet; 255 continues it, possibly
    across pages). The CRC is recomputed with the header's CRC field
    zeroed, per RFC 3533 §6. Stops at the first malformed page;
    never raises on corrupt input (the repo-wide decoder contract)."""
    try:
        if not data:
            return 0, 0, 0, False
        n = len(data)
        pos = 0
        pages = 0
        packets = 0
        last_granule = 0
        crc_ok = True
        while pos + 27 <= n:
            if data[pos : pos + 4] != b"OggS" or data[pos + 4] != 0:
                break
            nsegs = data[pos + 26]
            hdr_end = pos + 27 + nsegs
            if hdr_end > n:
                break
            lacing = data[pos + 27 : hdr_end]
            body = sum(lacing)
            page_end = hdr_end + body
            if page_end > n:
                break
            stored_crc = int.from_bytes(
                data[pos + 22 : pos + 26], "little"
            )
            page = bytearray(data[pos:page_end])
            page[22:26] = b"\x00\x00\x00\x00"
            if ogg_page_crc(bytes(page)) != stored_crc:
                crc_ok = False
            granule = int.from_bytes(
                data[pos + 6 : pos + 14], "little", signed=True
            )
            if granule != -1:
                last_granule = granule
            packets += sum(1 for v in lacing if v < 255)
            pages += 1
            pos = page_end
        if pages == 0:
            return 0, 0, 0, False
        return pages, packets, last_granule, crc_ok
    except Exception:
        return 0, 0, 0, False


OGG_SEGS_PER_PAGE = 5


def synth_ogg_stream(doc_id: int) -> bytes:
    """Multi-page Ogg stream with every lacing regime: 3 + doc_id % 4
    pages of exactly OGG_SEGS_PER_PAGE segments; packets are 3 small
    one-segment packets, one 610+ byte packet laced [255, 255, tail]
    that SPANS the page-0/page-1 boundary (continuation flag), one
    exactly-255-byte packet laced [255, 0] (the zero-lacing
    terminator), then single-segment fillers — so n_packets =
    5·n_pages − 3 by construction. Final-page granule =
    10000 + doc_id % 777 (EOS flag set); payload bytes are a
    deterministic doc_id pattern the parser never inspects."""
    n_pages = 3 + doc_id % 4
    total_segs = OGG_SEGS_PER_PAGE * n_pages

    def pk(size: int, salt: int) -> bytes:
        return bytes((doc_id + salt + i) % 256 for i in range(size))

    packets: list[bytes] = []
    for k in range(3):
        packets.append(pk(10 + (doc_id + k) % 200, k))
    packets.append(pk(510 + 100 + doc_id % 100, 7))  # [255,255,tail]
    packets.append(pk(255, 11))  # [255, 0]
    n_fill = total_segs - 8
    for k in range(n_fill):
        packets.append(pk(10 + (doc_id + 3 + k) % 200, 13 + k))

    # global lacing segmentation
    segs: list[tuple[int, bytes, bool]] = []  # (lacing, bytes, ends_pkt)
    for p in packets:
        off = 0
        while True:
            chunk = p[off : off + 255]
            off += len(chunk)
            if len(chunk) == 255 and off < len(p):
                segs.append((255, chunk, False))
            elif len(chunk) == 255 and off == len(p):
                segs.append((255, chunk, False))
                segs.append((0, b"", True))
                break
            else:
                segs.append((len(chunk), chunk, True))
                break
    assert len(segs) == total_segs

    serial = doc_id % (1 << 31)
    out = bytearray()
    carry_open = False  # previous page ended mid-packet
    for i in range(n_pages):
        chunk = segs[
            i * OGG_SEGS_PER_PAGE : (i + 1) * OGG_SEGS_PER_PAGE
        ]
        htype = 0
        if i == 0:
            htype |= 0x02  # BOS
        if carry_open:
            htype |= 0x01  # continuation
        if i == n_pages - 1:
            htype |= 0x04  # EOS
            granule = 10_000 + doc_id % 777
        else:
            granule = (i + 1) * 512
        hdr = bytearray(b"OggS")
        hdr.append(0)
        hdr.append(htype)
        hdr += granule.to_bytes(8, "little", signed=True)
        hdr += serial.to_bytes(4, "little")
        hdr += i.to_bytes(4, "little")
        hdr += b"\x00\x00\x00\x00"  # CRC placeholder
        hdr.append(len(chunk))
        hdr += bytes(lace for lace, _, _ in chunk)
        body = b"".join(raw for _, raw, _ in chunk)
        page = bytes(hdr) + body
        crc = ogg_page_crc(page)
        page = page[:22] + crc.to_bytes(4, "little") + page[26:]
        out += page
        carry_open = not chunk[-1][2]
    return bytes(out)


# ---------------------------------------------------------------------------
# EBML / Matroska-WebM element walk. The reference never reaches video
# containers (audio-only MIME list, src/main.rs:97-110); this closes
# the remaining mainstream container family (MP4/AVI/Ogg walked
# elsewhere) with the varint-framed one: element IDs keep their
# leading-1 marker byte per RFC 8794 §4, sizes strip it.
# ---------------------------------------------------------------------------

# Master elements (public Matroska registry ids) whose payload is a
# sequence of child elements rather than a scalar.
_EBML_MASTER_IDS = frozenset(
    {0x1A45DFA3, 0x18538067, 0x1549A966, 0x1F43B675}
)


def _read_vint(data: bytes, pos: int, keep_marker: bool):
    """RFC 8794 variable-size integer: the number of leading zero bits
    of the first byte gives the width. Returns (value, new_pos) or
    None on malformed/truncated input."""
    if pos >= len(data):
        return None
    first = data[pos]
    if first == 0:
        return None
    width = 9 - first.bit_length()
    if pos + width > len(data):
        return None
    val = first if keep_marker else first & ((1 << (8 - width)) - 1)
    for i in range(1, width):
        val = (val << 8) | data[pos + i]
    return val, pos + width


def parse_ebml(data: bytes | None) -> tuple[int, int, int, int, bool]:
    """Walk an EBML element tree: (n_elements, max_depth, n_clusters,
    leaf_payload_bytes, ok). Master elements (EBML header, Segment,
    Info, Cluster) recurse; everything else counts its payload bytes.
    ok = the whole buffer parses to exactly its end. Never raises on
    corrupt input (repo-wide decoder contract); unknown-size elements
    (all-ones vint) are treated as malformed."""
    try:
        if not data:
            return 0, 0, 0, 0, False
        stats = {"n": 0, "depth": 0, "clusters": 0, "leaf": 0}

        def walk(lo: int, hi: int, depth: int) -> bool:
            pos = lo
            stats["depth"] = max(stats["depth"], depth)
            while pos < hi:
                r = _read_vint(data, pos, keep_marker=True)
                if r is None:
                    return False
                eid, pos = r
                r = _read_vint(data, pos, keep_marker=False)
                if r is None:
                    return False
                size, pos = r
                if pos + size > hi:
                    return False
                stats["n"] += 1
                if eid == 0x1F43B675:
                    stats["clusters"] += 1
                if eid in _EBML_MASTER_IDS:
                    if not walk(pos, pos + size, depth + 1):
                        return False
                else:
                    stats["leaf"] += size
                pos += size
            return pos == hi

        ok = walk(0, len(data), 1)
        return (
            stats["n"],
            stats["depth"],
            stats["clusters"],
            stats["leaf"],
            ok,
        )
    except Exception:
        return 0, 0, 0, 0, False


def _ebml_elem(eid: int, payload: bytes) -> bytes:
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    n = len(payload)
    if n < 127:
        size = bytes([0x80 | n])
    else:
        size = bytes([0x40 | (n >> 8), n & 0xFF])
    return idb + size + payload


def synth_ebml(doc_id: int) -> bytes:
    """Matroska-shaped EBML tree: header (EBMLVersion + DocType),
    Segment(Info(TimestampScale, Duration), 1 + doc_id % 5 Clusters
    of Timestamp + SimpleBlock with 20 + (doc_id + 7k) % 50 payload
    bytes) — so n_elements = 7 + 3·n_clusters, max_depth = 3, and the
    leaf byte total is oracle-recomputable. One SimpleBlock payload
    per cluster varies in size, forcing the walk to frame every
    element from its own vint header."""
    n_c = 1 + doc_id % 5
    header = _ebml_elem(
        0x1A45DFA3,
        _ebml_elem(0x4286, bytes([1]))
        + _ebml_elem(0x4282, b"matroska"),
    )
    info = _ebml_elem(
        0x1549A966,
        _ebml_elem(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
        + _ebml_elem(0x4489, bytes(4)),
    )
    clusters = b""
    for k in range(n_c):
        sz = 20 + (doc_id + 7 * k) % 50
        block = bytes(
            [0x81] + [(doc_id + k + i) % 256 for i in range(sz - 1)]
        )
        clusters += _ebml_elem(
            0x1F43B675,
            _ebml_elem(0xE7, (k * 1000).to_bytes(2, "big"))
            + _ebml_elem(0xA3, block),
        )
    segment = _ebml_elem(0x18538067, info + clusters)
    return header + segment
