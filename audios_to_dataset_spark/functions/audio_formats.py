"""Multi-format audio header sniffing — the capability extension past the
reference's WAV-only decode (/root/reference/src/main.rs:760-769 parses
WAV via hound and maps every other format to (0.0, 0)).

Same design rules as ``functions/wav.py``: pure-Python byte walks inside
one Arrow-batched pandas UDF (the justified non-relational computation),
failure → typed zero row so corrupt media never kills a 100 TB job, and
no codec dependency — only container/stream headers are read, never
samples decoded.

Formats and what the header alone yields:

- WAV   → sample rate + exact duration (delegates to ``parse_wav_header``)
- FLAC  → sample rate + exact duration (STREAMINFO total-samples field)
- Vorbis→ sample rate only (duration needs the last Ogg page's granule;
          parsed when the tail is present, else 0.0)
- Opus  → 48 kHz output rate per RFC 7845 (input rate is informational)
- MP3   → sample rate + CBR duration ESTIMATE from the first frame's
          bitrate (VBR files underestimate; flagged by ``est`` = True)
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .wav import parse_wav_header

AUDIO_INFO_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("sampling_rate", T.IntegerType(), False),
        T.StructField("duration", T.DoubleType(), False),
        T.StructField("est", T.BooleanType(), False),
    ]
)

_MP3_BITRATES_V1L3 = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0
)
_MP3_BITRATES_V2L3 = (
    0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0
)
_MP3_RATES_V1 = (44100, 48000, 32000, 0)
_MP3_RATES_V2 = (22050, 24000, 16000, 0)
_MP3_RATES_V25 = (11025, 12000, 8000, 0)


def _parse_flac(data: bytes) -> tuple[str, int, float, bool] | None:
    if len(data) < 4 + 4 + 34 or data[0:4] != b"fLaC":
        return None
    # first metadata block must be STREAMINFO (34 bytes)
    if (data[4] & 0x7F) != 0:
        return None
    b = data[8 : 8 + 34]
    sr = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
    total = ((b[13] & 0x0F) << 32) | int.from_bytes(b[14:18], "big")
    if sr <= 0:
        return None
    return "flac", sr, total / sr, False


def _parse_ogg(data: bytes) -> tuple[str, int, float, bool] | None:
    if len(data) < 28 or data[0:4] != b"OggS":
        return None
    head = data[:512]
    i = head.find(b"\x01vorbis")
    if i >= 0 and i + 16 <= len(data):
        (sr,) = struct.unpack_from("<I", data, i + 12)
        if sr <= 0:
            return None
        dur, est = 0.0, True
        gran = _last_ogg_granule(data)
        if gran is not None:
            dur, est = gran / sr, False
        return "ogg", sr, dur, est
    i = head.find(b"OpusHead")
    if i >= 0 and i + 16 <= len(data):
        # RFC 7845: the field at +12 is the ORIGINAL input rate; Opus
        # always decodes at 48 kHz — report the canonical output rate.
        gran = _last_ogg_granule(data)
        if gran is not None:
            # granule is in 48 kHz samples; subtract pre-skip at +10
            (skip,) = struct.unpack_from("<H", data, i + 10)
            return "opus", 48000, max(gran - skip, 0) / 48000.0, False
        return "opus", 48000, 0.0, True
    return None


def _last_ogg_granule(data: bytes) -> int | None:
    """Granule position of the final Ogg page, if its header is intact."""
    i = data.rfind(b"OggS")
    if i < 0 or i + 14 > len(data):
        return None
    (gran,) = struct.unpack_from("<q", data, i + 6)
    return gran if gran >= 0 else None


def _parse_mp3(data: bytes) -> tuple[str, int, float, bool] | None:
    pos = 0
    if data[0:3] == b"ID3" and len(data) >= 10:
        size = (
            (data[6] & 0x7F) << 21
            | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7
            | (data[9] & 0x7F)
        )
        pos = 10 + size
    n = len(data)
    while pos + 4 <= n:
        if data[pos] == 0xFF and (data[pos + 1] & 0xE0) == 0xE0:
            h1 = data[pos + 1]
            version = (h1 >> 3) & 0x3  # 3=V1, 2=V2, 0=V2.5
            layer = (h1 >> 1) & 0x3  # 1 = Layer III
            if layer != 1 or version == 1:
                pos += 1
                continue
            h2 = data[pos + 2]
            br_idx = (h2 >> 4) & 0xF
            sr_idx = (h2 >> 2) & 0x3
            if version == 3:
                bitrate = _MP3_BITRATES_V1L3[br_idx]
                sr = _MP3_RATES_V1[sr_idx]
            elif version == 2:
                bitrate = _MP3_BITRATES_V2L3[br_idx]
                sr = _MP3_RATES_V2[sr_idx]
            else:
                bitrate = _MP3_BITRATES_V2L3[br_idx]
                sr = _MP3_RATES_V25[sr_idx]
            if bitrate <= 0 or sr <= 0:
                pos += 1
                continue
            dur = (n - pos) * 8.0 / (bitrate * 1000.0)
            return "mp3", sr, dur, True
        pos += 1
    return None


def parse_audio_header(data: bytes | None) -> tuple[str | None, int, float, bool]:
    """(format, sampling_rate, duration_seconds, is_estimate) from the
    container header alone; unknown/corrupt → (None, 0, 0.0, False) —
    the reference's keep-with-zeros contract extended with a format tag."""
    try:
        if not data:
            return None, 0, 0.0, False
        dur, sr = parse_wav_header(data)
        if sr > 0:
            return "wav", sr, dur, False
        for parser in (_parse_flac, _parse_ogg, _parse_mp3):
            got = parser(data)
            if got is not None:
                fmt, psr, pdur, est = got
                return fmt, int(psr), float(pdur), est
        # AIFF (FORM/AIFF COMM chunk) and Sun/NeXT AU — the other two
        # uncompressed containers the engine decodes (audio_headers)
        from .audio_headers import parse_aiff_header

        afmt, asr, _ch, ams = parse_aiff_header(data)
        if afmt is not None:
            return "aiff", int(asr), ams / 1000.0, False
        if len(data) >= 24 and data[:4] == b".snd":
            off, size, enc, rate, ch = struct.unpack_from(">IIIII", data, 4)
            if (off >= 24 and 0 < rate <= 1_000_000 and 0 < ch <= 16
                    and enc in (1, 2, 3)):
                width = 2 if enc == 3 else 1
                nbytes = (
                    len(data) - off if size == 0xFFFFFFFF
                    else min(size, max(0, len(data) - off))
                )
                frames = nbytes // (width * ch)
                return "au", int(rate), frames / rate, False
        return None, 0, 0.0, False
    except Exception:
        return None, 0, 0.0, False


@pandas_udf(AUDIO_INFO_TYPE)
def audio_info(content: pd.Series) -> pd.DataFrame:
    out = [parse_audio_header(b) for b in content]
    return pd.DataFrame(
        {
            "format": [f for f, _, _, _ in out],
            "sampling_rate": [s for _, s, _, _ in out],
            "duration": [d for _, _, d, _ in out],
            "est": [e for _, _, _, e in out],
        }
    )
