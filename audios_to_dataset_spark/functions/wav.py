"""RIFF/WAVE reading and writing (P4) and the WAV-level signal functions
built on them.

Reference semantics (the reference's src/main.rs:760-769, via the hound
crate): parse the in-memory WAV; ``duration = samples_per_channel /
sample_rate`` (f64 seconds), ``sampling_rate`` i32; ANY parse failure →
``(0.0, 0)`` so non-WAV files are kept with zero duration (README.md:94).

``read_wav`` is the only RIFF chunk walk: it returns a ``WavLayout``
(the fmt fields, the fmt chunk body and where the data chunk lies) or
None. Each reader below takes its layout from it and adds only its own
validity rule. ``wav_bytes`` is the only RIFF writer: the segmenter and
every ``synth_wav*`` fixture build their files through it. The pandas
UDFs (``wav_info``, ``wav_stats``, ``with_audio_fingerprint``) are thin
Arrow-batched maps of these byte-level functions.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

WAV_RESULT_TYPE = T.StructType(
    [
        T.StructField("duration", T.DoubleType(), False),
        T.StructField("sampling_rate", T.IntegerType(), False),
    ]
)


class WavLayout(NamedTuple):
    """A RIFF/WAVE file's fmt fields, its whole fmt chunk body (extension
    bytes included) and the data chunk's payload as offset + length into
    the original bytes."""

    tag: int
    channels: int
    sample_rate: int
    byte_rate: int
    block_align: int
    bits: int
    fmt: bytes
    data_off: int
    data_len: int


def read_wav(data: bytes | None) -> WavLayout | None:
    """Walk the RIFF/WAVE chunks; None unless the file is ``RIFF…WAVE``
    with a fmt and a data chunk. A fmt chunk counts only when it is at
    least 16 bytes and its first 16 lie inside the file; the last fmt and
    the last data chunk win; odd chunk sizes are padded by one byte
    (chunks are word-aligned); the data size is clamped to end-of-file.
    The payload is never copied."""
    if data is None or len(data) < 12:
        return None
    if data[0:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    n = len(data)
    pos = 12
    fmt = None
    data_off = data_len = -1
    while pos + 8 <= n:
        chunk_id = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if chunk_id == b"fmt " and size >= 16 and body + 16 <= n:
            fmt = data[body : body + size]
        elif chunk_id == b"data":
            data_off, data_len = body, min(size, n - body)
        pos = body + size + (size & 1)
    if fmt is None or data_off < 0:
        return None
    return WavLayout(
        *struct.unpack_from("<HHIIHH", fmt), fmt, data_off, data_len
    )


def pcm_fmt(tag: int, channels: int, rate: int, bits: int) -> bytes:
    """The 16-byte fmt chunk body of an interleaved format whose frame is
    ``channels * bits / 8`` bytes."""
    align = channels * bits // 8
    return struct.pack(
        "<HHIIHH", tag, channels, rate, rate * align, align, bits
    )


def wav_bytes(fmt_body: bytes, body: bytes) -> bytes:
    """A RIFF/WAVE file of one fmt chunk, padded to even length, and one
    data chunk. An odd-length data chunk gets no pad byte; it is the
    last chunk, so every reader still finds the whole payload."""
    pad = b"\x00" * (len(fmt_body) & 1)
    return b"".join(
        (
            b"RIFF",
            struct.pack("<I", 20 + len(fmt_body) + len(pad) + len(body)),
            b"WAVE",
            b"fmt ",
            struct.pack("<I", len(fmt_body)),
            fmt_body,
            pad,
            b"data",
            struct.pack("<I", len(body)),
            body,
        )
    )


def parse_wav_header(data: bytes | None) -> tuple[float, int]:
    """(duration, sampling_rate) with duration = data_size / block_align
    / sample_rate; anything ``read_wav`` rejects, or a zero rate or
    block align → (0.0, 0)."""
    w = read_wav(data)
    if w is None or w.sample_rate <= 0 or w.block_align <= 0:
        return 0.0, 0
    return (w.data_len // w.block_align) / w.sample_rate, w.sample_rate


@pandas_udf(WAV_RESULT_TYPE)
def wav_info(content: pd.Series) -> pd.DataFrame:
    out = [parse_wav_header(b) for b in content]
    return pd.DataFrame(
        {
            "duration": [d for d, _ in out],
            "sampling_rate": [s for _, s in out],
        }
    )


WAV_STATS_TYPE = T.StructType(
    [
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("peak", T.DoubleType(), False),
        T.StructField("clipped_frac", T.DoubleType(), False),
        T.StructField("n_samples", T.LongType(), False),
    ]
)


def _mulaw_decode_byte(c: int) -> int:
    """G.711 µ-law expansion of one code byte to a linear 16-bit sample
    (public ITU-T formula: complement, 3-bit exponent, 4-bit mantissa,
    0x84 bias). Pure integer math — the same expression a SQL oracle
    replays bit-for-bit."""
    c = 255 - c
    mag = (((c & 0x0F) * 8 + 0x84) << ((c >> 4) & 7)) - 0x84
    return -mag if c & 0x80 else mag


_MULAW_TABLE = None


def _mulaw_table():
    import numpy as np

    global _MULAW_TABLE
    if _MULAW_TABLE is None:
        _MULAW_TABLE = np.array(
            [_mulaw_decode_byte(c) for c in range(256)], dtype=np.int16
        )
    return _MULAW_TABLE


def _alaw_decode_byte(c: int) -> int:
    """G.711 A-law expansion of one code byte to a linear 16-bit sample
    (public ITU-T formula / CCITT reference implementation: XOR 0x55,
    3-bit segment, 4-bit quantization; segment 0/1 special-cased; the
    SIGN bit SET means positive). Pure integer math — SQL-replayable."""
    c ^= 0x55
    t = (c & 0x0F) << 4
    seg = (c & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if c & 0x80 else -t


_ALAW_TABLE = None


def _alaw_table():
    import numpy as np

    global _ALAW_TABLE
    if _ALAW_TABLE is None:
        _ALAW_TABLE = np.array(
            [_alaw_decode_byte(c) for c in range(256)], dtype=np.int16
        )
    return _ALAW_TABLE


# IMA/DVI ADPCM tables (public: IMA Digital Audio Pack, Intel/DVI spec)
IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def ima_adpcm_step(pred: int, idx: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: (pred, idx) + 4-bit code → next
    (pred, idx). Integer-exact; the SQL oracle replays it as a
    recursive CTE joined to the step/index tables."""
    step = IMA_STEP[idx]
    diff = step >> 3
    if nibble & 4:
        diff += step
    if nibble & 2:
        diff += step >> 1
    if nibble & 1:
        diff += step >> 2
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + IMA_INDEX[nibble]))
    return pred, idx


def _ima_decode(
    data: bytes, body_off: int, body_len: int, block_align: int
) -> list[int]:
    """Decode mono IMA ADPCM WAV data: each block is a 4-byte header
    (int16 predictor = sample 0, uint8 step index, reserved) followed by
    4-bit codes, low nibble first. Sequential by construction (each
    sample's state feeds the next) — a python loop, fixture-scale."""
    samples: list[int] = []
    bo = body_off
    end = body_off + body_len
    while bo + 4 <= end and block_align >= 5:
        pred = int.from_bytes(data[bo : bo + 2], "little", signed=True)
        idx = data[bo + 2]
        if idx > 88:
            return []
        samples.append(pred)
        nbytes = min(block_align, end - bo) - 4
        for k in range(nbytes * 2):
            byte = data[bo + 4 + k // 2]
            nibble = (byte & 0x0F) if k % 2 == 0 else (byte >> 4)
            pred, idx = ima_adpcm_step(pred, idx, nibble)
            samples.append(pred)
        bo += block_align
    return samples


# KSDATAFORMAT_SUBTYPE GUID tail (bytes 2..16): every
# WAVE_FORMAT_EXTENSIBLE SubFormat is <code u16 LE> + this suffix.
_KSDATAFORMAT_SUFFIX = (
    b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
)


def wav_pcm_stats(data: bytes | None) -> tuple[float, float, float, int]:
    """Signal-level QA stats from WAV bytes — 16-bit linear PCM (format
    tag 1/16), 8-bit unsigned linear PCM (tag 1/8, widened <<8), 32-bit
    IEEE float (tag 3/32), G.711 µ-law (tag 7/8) or A-law (tag 6/8,
    both expanded through integer tables): RMS and peak (normalized to
    [0, 1]) and the fraction of full-scale (clipped) samples — the
    silence/clipping screens an audio-dataset curation pass runs before
    training. Other formats or malformed input → zeros.

    Vectorized: the payload is reinterpreted (or table-expanded) as one
    numpy array, so cost is memory-bandwidth, not a Python loop.
    """
    import numpy as np

    w = read_wav(data)
    if w is None or w.data_len < 1:
        return 0.0, 0.0, 0.0, 0
    tag, bits, body_off, body_len = w.tag, w.bits, w.data_off, w.data_len
    if tag == 0xFFFE and len(w.fmt) >= 40:
        # WAVE_FORMAT_EXTENSIBLE (Microsoft multichannel spec): the real
        # format lives in the SubFormat GUID's Data1; the rest must be
        # the fixed KSDATAFORMAT suffix or the stream is rejected.
        guid = w.fmt[24:40]
        if guid[2:] == _KSDATAFORMAT_SUFFIX:
            (tag,) = struct.unpack_from("<H", guid, 0)
        else:
            tag = 0
    if tag == 1 and bits == 16 and body_len >= 2:
        ints = np.frombuffer(
            data, dtype="<i2", count=body_len // 2, offset=body_off
        ).astype(np.float64)
    elif tag == 1 and bits == 8:
        # unsigned 8-bit PCM: midpoint 128, widened to 16-bit range
        codes = np.frombuffer(
            data, dtype=np.uint8, count=body_len, offset=body_off
        )
        ints = (codes.astype(np.float64) - 128.0) * 256.0
    elif tag == 7 and bits == 8:
        codes = np.frombuffer(
            data, dtype=np.uint8, count=body_len, offset=body_off
        )
        ints = _mulaw_table()[codes].astype(np.float64)
    elif tag == 6 and bits == 8:
        codes = np.frombuffer(
            data, dtype=np.uint8, count=body_len, offset=body_off
        )
        ints = _alaw_table()[codes].astype(np.float64)
    elif tag == 0x11 and bits == 4:
        # IMA/DVI ADPCM (mono): sequential nibble state machine
        decoded = _ima_decode(data, body_off, body_len, w.block_align)
        if not decoded:
            return 0.0, 0.0, 0.0, 0
        ints = np.array(decoded, dtype=np.float64)
    elif tag == 3 and bits == 32 and body_len >= 4:
        # IEEE float samples are already normalized; scale up so the
        # shared /32768 below is a no-op (exact power-of-two scaling)
        ints = np.frombuffer(
            data, dtype="<f4", count=body_len // 4, offset=body_off
        ).astype(np.float64) * 32768.0
    else:
        return 0.0, 0.0, 0.0, 0
    pcm = ints / 32768.0
    rms = float(np.sqrt(np.mean(pcm * pcm)))
    peak = float(np.max(np.abs(pcm)))
    clipped = float(np.mean(np.abs(pcm) >= 32767.0 / 32768.0))
    return rms, peak, clipped, int(pcm.size)


@pandas_udf(WAV_STATS_TYPE)
def wav_stats(content: pd.Series) -> pd.DataFrame:
    out = [wav_pcm_stats(b) for b in content]
    return pd.DataFrame(
        {
            "rms": [r for r, _, _, _ in out],
            "peak": [p for _, p, _, _ in out],
            "clipped_frac": [c for _, _, c, _ in out],
            "n_samples": pd.Series(
                [s for _, _, _, s in out], dtype="int64"
            ),
        }
    )


def _md5_int(key: str, hex_digits: int) -> int:
    """The first ``hex_digits`` hex digits of md5(key) as an int — the
    sample formula the fixtures below share with their SQL oracles."""
    import hashlib

    return int(hashlib.md5(key.encode()).hexdigest()[:hex_digits], 16)


def _pcm16(samples: list[int]) -> bytes:
    """Little-endian int16 payload of ``samples``."""
    return struct.pack(f"<{len(samples)}h", *samples)


def synth_wav(
    sample_rate: int = 16_000,
    n_samples: int | None = None,
    freq_hz: float = 440.0,
    channels: int = 1,
) -> bytes:
    """Deterministic 16-bit PCM sine-wave WAV for tests — the fixture shape
    the reference's e2e tests generate (tests/end_to_end.rs:332-351):
    exactly ``sample_rate`` samples by default → duration exactly 1.0 s."""
    import math

    if n_samples is None:
        n_samples = sample_rate
    body = _pcm16(
        [
            int(32767.0 * math.sin(2.0 * math.pi * freq_hz * i / sample_rate))
            for i in range(n_samples)
            for _ in range(channels)
        ]
    )
    return wav_bytes(pcm_fmt(1, channels, sample_rate, 16), body)


def segment_wav_bytes(
    data: bytes | None, seg_seconds: float
) -> list[tuple[int, float, float, bytes]]:
    """Split one WAV payload into fixed-duration standalone WAV segments.

    Returns ``[(seg_idx, start_s, duration_s, riff_bytes), ...]``; each
    segment is a fully valid RIFF/WAVE file (fmt chunk copied verbatim,
    data chunk sliced on frame boundaries) so downstream consumers can
    treat segments exactly like source files. Unparseable input → []
    (the skip-with-warning analog of the reference's decode-failure
    tolerance, src/main.rs:768).
    """
    w = read_wav(data)
    if w is None or w.sample_rate <= 0 or w.block_align <= 0:
        return []
    frames = w.data_len // w.block_align
    frames_per_seg = max(int(seg_seconds * w.sample_rate), 1)
    out = []
    for idx, start in enumerate(range(0, frames, frames_per_seg)):
        seg_frames = min(frames_per_seg, frames - start)
        lo = w.data_off + start * w.block_align
        seg_body = data[lo : lo + seg_frames * w.block_align]
        out.append(
            (
                idx,
                start / w.sample_rate,
                seg_frames / w.sample_rate,
                wav_bytes(w.fmt, seg_body),
            )
        )
    return out


def synth_wav_md5(doc_id: int) -> bytes:
    """Deterministic 16-bit PCM WAV fixture whose SAMPLES are
    oracle-recomputable: sample i = (first two md5 bytes of
    ``au:{id}:{i}``) - 32768, n = 64 + id % 37 samples, rate
    8000/12000/16000 by id. Feeds q_audio_stats: the real RIFF parse +
    numpy PCM stats must reproduce values a SQL oracle derives from the
    same formula, so header-walk or scaling bugs fail the value hash."""
    n = 64 + doc_id % 37
    sr = 8000 + (doc_id % 3) * 4000
    body = _pcm16([_md5_int(f"au:{doc_id}:{i}", 4) - 32768 for i in range(n)])
    return wav_bytes(pcm_fmt(1, 1, sr, 16), body)


def synth_wav_md5_alaw(doc_id: int) -> bytes:
    """Deterministic A-law WAV fixture (format tag 6, 8-bit codes,
    block_align 1): code i = first md5 byte of ``al:{id}:{i}``,
    n = 40 + id % 23 samples at 8 kHz. Drives the G.711 A-law expansion
    through q_audio_alaw's value-hash oracle."""
    n = 40 + doc_id % 23
    body = bytes(_md5_int(f"al:{doc_id}:{i}", 2) for i in range(n))
    return wav_bytes(pcm_fmt(6, 1, 8000, 8), body)


def synth_wav_md5_pcm8(doc_id: int) -> bytes:
    """Deterministic unsigned-8-bit PCM WAV fixture (tag 1, bits 8):
    sample i = first md5 byte of ``p8:{id}:{i}``, n = 56 + id % 31 at
    11025 Hz. The decoder must recentre on 128 and widen <<8; the
    oracle replays (v - 128) * 256 / 32768 exactly."""
    n = 56 + doc_id % 31
    body = bytes(_md5_int(f"p8:{doc_id}:{i}", 2) for i in range(n))
    return wav_bytes(pcm_fmt(1, 1, 11025, 8), body)


def synth_wav_md5_f32(doc_id: int) -> bytes:
    """Deterministic IEEE-float WAV fixture (tag 3, bits 32): sample i =
    ((first two md5 bytes of ``f3:{id}:{i}``) - 32768) / 32768 — a
    16-bit dyadic rational, so the float32 write and float64 read are
    both EXACT and the SQL oracle needs no float32 rounding model.
    n = 32 + id % 19 samples at 16 kHz."""
    n = 32 + doc_id % 19
    vals = [
        (_md5_int(f"f3:{doc_id}:{i}", 4) - 32768) / 32768.0 for i in range(n)
    ]
    return wav_bytes(pcm_fmt(3, 1, 16000, 32), struct.pack(f"<{n}f", *vals))


def synth_wav_md5_ext(doc_id: int) -> bytes:
    """Deterministic WAVE_FORMAT_EXTENSIBLE fixture (tag 0xFFFE, fmt
    chunk 40 bytes: cbSize 22, valid-bits, channel mask, SubFormat
    GUID): even docs wrap PCM16 (SubFormat Data1 = 1), odd docs wrap
    IEEE float32 (= 3) — the two subformats real multichannel WAVs
    use. Sample i = the centered 16-bit md5 value of ``wx:{id}:{i}``;
    dyadic v/32768 storage makes both subformats EXACTLY the same
    signal, so ONE oracle formula covers the whole family and any
    GUID-dispatch bug shows up as a zeroed row."""
    n = 44 + doc_id % 31
    sr = 8000 + (doc_id % 3) * 4000
    vals = [_md5_int(f"wx:{doc_id}:{i}", 4) - 32768 for i in range(n)]
    if doc_id % 2 == 1:
        body = struct.pack(f"<{n}f", *(v / 32768.0 for v in vals))
        sub, bits = 3, 32
    else:
        body = _pcm16(vals)
        sub, bits = 1, 16
    fmt_body = (
        pcm_fmt(0xFFFE, 1, sr, bits)
        + struct.pack("<HHIH", 22, bits, 0x4, sub)
        + _KSDATAFORMAT_SUFFIX
    )
    return wav_bytes(fmt_body, body)


def resample_linear(
    samples, sr_in: int, sr_out: int
):
    """Linear-interpolation resample of a 1-D sample array (float64 in,
    float64 out). The interpolation is the EXPLICIT two-term form
    ``x0 + f * (x1 - x0)`` (NOT numpy.interp's (1-f)x0 + f x1 — a
    different expression tree rounds differently), evaluated with the
    same IEEE ops a SQL oracle writes, so fixture ratios whose
    positions are dyadic rationals (8k/12k/16k -> 16k) reproduce
    bit-exactly across engines. Output sample j sits at position
    j * (sr_in / sr_out); j runs while the position stays within the
    input."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    n = x.size
    if n == 0 or sr_in <= 0 or sr_out <= 0:
        return np.empty(0, dtype=np.float64)
    r = sr_in / sr_out
    n_out = int(np.floor((n - 1) / r)) + 1 if r > 0 else 0
    j = np.arange(n_out, dtype=np.float64)
    pos = j * r
    i0 = np.floor(pos).astype(np.int64)
    i0 = np.minimum(i0, n - 1)
    f = pos - i0
    i1 = np.minimum(i0 + 1, n - 1)
    return x[i0] + f * (x[i1] - x[i0])


def downmix_stereo(data: bytes | None) -> tuple[list[float], int]:
    """Decode a 16-bit stereo PCM WAV and downmix to mono as the exact
    per-frame average (l + r) * 0.5 — a power-of-two scaling, so every
    output sample is exactly representable and a SQL oracle replays it
    bit-for-bit. Returns (normalized mono samples, sample_rate); non-
    stereo/malformed input → ([], 0)."""
    import numpy as np

    w = read_wav(data)
    if w is None or w.tag != 1 or w.channels != 2 or w.bits != 16:
        return [], 0
    x = np.frombuffer(
        data, dtype="<i2", count=(w.data_len // 4) * 2, offset=w.data_off
    ).astype(np.float64)
    frames = x.reshape(-1, 2)
    mono = (frames[:, 0] + frames[:, 1]) * 0.5 / 32768.0
    return mono.tolist(), w.sample_rate


def synth_wav_dropout(doc_id: int) -> bytes:
    """Deterministic 16-bit PCM WAV with DIGITAL DROPOUTS: sample i is
    forced to exactly 0 when ``(i // 16) % 7 == doc_id % 7`` (16-sample
    silent windows recurring every 112 samples — the transient a dead
    ADC/link produces), else the centered md5 value of ``dr:{id}:{i}``.
    n = 200 + id % 41 samples at 16 kHz. Feeds q_audio_dropout; the
    SQL oracle replays the same CASE + md5 formula."""
    n = 200 + doc_id % 41
    body = _pcm16(
        [
            0 if (i // 16) % 7 == doc_id % 7
            else _md5_int(f"dr:{doc_id}:{i}", 4) - 32768
            for i in range(n)
        ]
    )
    return wav_bytes(pcm_fmt(1, 1, 16000, 16), body)


def synth_wav_md5_stereo(doc_id: int) -> bytes:
    """Deterministic 16-bit STEREO PCM WAV fixture: frame i's left
    sample = md5(``sl:{id}:{i}``) two bytes - 32768, right =
    md5(``sr:{id}:{i}``) likewise; n = 40 + id % 21 frames at 16 kHz,
    interleaved L/R per the RIFF spec."""
    n = 40 + doc_id % 21
    body = _pcm16(
        [
            _md5_int(f"{side}:{doc_id}:{i}", 4) - 32768
            for i in range(n)
            for side in ("sl", "sr")
        ]
    )
    return wav_bytes(pcm_fmt(1, 2, 16000, 16), body)


def synth_wav_md5_adpcm(doc_id: int) -> bytes:
    """Deterministic IMA ADPCM WAV fixture (tag 0x11, 4-bit codes,
    mono, ONE block): header predictor = (md5 of ``ap:{id}``) - 32768,
    step index = (md5 of ``ai:{id}``) % 89, nibble k = first hex digit
    of md5(``ad:{id}:{k}``); n_nibbles = 24 + 2*(id % 11) (even, so no
    padding nibble). The SQL oracle replays the decode recurrence as a
    recursive CTE against the same md5 formulas."""
    n_nib = 24 + 2 * (doc_id % 11)
    sr = 8000
    pred0 = _md5_int(f"ap:{doc_id}", 4) - 32768
    idx0 = _md5_int(f"ai:{doc_id}", 2) % 89
    nibbles = [_md5_int(f"ad:{doc_id}:{k}", 1) for k in range(n_nib)]
    payload = bytearray(struct.pack("<hBB", pred0, idx0, 0))
    for j in range(0, n_nib, 2):
        payload.append(nibbles[j] | (nibbles[j + 1] << 4))
    block_align = len(payload)
    spb = 1 + n_nib
    fmt_body = struct.pack(
        "<HHIIHHHH", 0x11, 1, sr,
        sr * block_align // spb, block_align, 4, 2, spb,
    )
    return wav_bytes(fmt_body, bytes(payload))


def synth_wav_md5_ulaw(doc_id: int) -> bytes:
    """Deterministic µ-law WAV fixture (format tag 7, 8-bit codes,
    block_align 1): code i = first md5 byte of ``ul:{id}:{i}``,
    n = 48 + id % 29 samples at 8 kHz. Drives the G.711 expansion
    through q_audio_ulaw's value-hash oracle."""
    n = 48 + doc_id % 29
    body = bytes(_md5_int(f"ul:{doc_id}:{i}", 2) for i in range(n))
    return wav_bytes(pcm_fmt(7, 1, 8000, 8), body)


# ---------------------------------------------------------------------------
# Audio fingerprinting (energy-gradient hash) + near-dup fixtures
# ---------------------------------------------------------------------------

# Near-dup WAV fixture family: docs in the same GROUP (doc_id %
# AFP_GROUPS) share one md5-derived base signal; each doc re-synthesizes
# ONE 16-sample window. Same-group clips fingerprint within a few bits,
# cross-group clips are random — the audio analog of the image-dHash
# fixtures. The fingerprint itself is the Haitsma-Kalker-style
# energy-gradient bit scheme (public: "A Highly Robust Audio
# Fingerprinting System", ISMIR 2002), simplified to one band.
AFP_GROUPS = 29
AFP_WIN = 16           # samples per energy window
AFP_WINDOWS = 65       # windows -> 64 gradient bits (two 32-bit halves)
AFP_SAMPLES = AFP_WIN * AFP_WINDOWS


def _afp_sample(key: str) -> int:
    """First 4 md5 hex digits % 40000 - 20000 (int16-safe)."""
    return _md5_int(key, 4) % 40000 - 20000


def synth_wav_group(doc_id: int) -> bytes:
    """Deterministic near-dup PCM16 WAV: 1040 samples, base sample i =
    md5('af:{g}:{i}') with g = doc_id % AFP_GROUPS; the doc's one
    perturbed window ((doc_id // groups) % AFP_WINDOWS (65)) is
    re-synthesized from
    md5('afp:{doc_id}:{i}') — both formulas a DuckDB oracle replays."""
    g = doc_id % AFP_GROUPS
    pwin = (doc_id // AFP_GROUPS) % AFP_WINDOWS
    body = _pcm16(
        [
            _afp_sample(
                f"afp:{doc_id}:{i}" if i // AFP_WIN == pwin
                else f"af:{g}:{i}"
            )
            for i in range(AFP_SAMPLES)
        ]
    )
    return wav_bytes(pcm_fmt(1, 1, 16000, 16), body)


def wav_pcm16_samples(data: bytes | None):
    """Extract int16 PCM samples from a 16-bit linear PCM WAV (RIFF
    chunk walk, mono or interleaved as-is). Other formats / malformed
    input -> None (keep-with-fallback)."""
    import numpy as np

    w = read_wav(data)
    if w is None or w.tag != 1 or w.bits != 16 or w.data_len < 2:
        return None
    return np.frombuffer(
        data, dtype="<i2", count=w.data_len // 2, offset=w.data_off
    )


def wav_pcm16_frames(data: bytes | None):
    """(interleaved int16 samples, sample_rate, channels) from a
    16-bit linear PCM WAV, or None. Same RIFF walk as
    ``wav_pcm16_samples`` but keeps the fmt chunk's channel count and
    rate so channel-preserving consumers (FLAC transcode) don't
    collapse multichannel audio to mono. Trailing bytes that don't
    fill a whole inter-channel frame are dropped."""
    import numpy as np

    w = read_wav(data)
    if w is None or w.tag != 1 or w.bits != 16 \
            or not 1 <= w.channels <= 8 or w.sample_rate <= 0:
        return None
    frames = w.data_len // (2 * w.channels)
    if frames == 0:
        return None
    s = np.frombuffer(
        data, dtype="<i2", count=frames * w.channels, offset=w.data_off
    )
    return s, w.sample_rate, w.channels


def audio_fingerprint(data: bytes | None) -> tuple[int, int] | None:
    """64-bit energy-gradient fingerprint as two NON-NEGATIVE 32-bit
    halves (hi = bits 0..31, lo = bits 32..63, the dHash convention):
    windowed sum of |sample| (integer-exact), bit w = energy[w] >
    energy[w+1]. 64 bits (not 32) so LSH bands can be 16 bits wide —
    the band KEY SPACE is the scale dial: an equi-join on w-bit band
    values costs ~N^2/2^w per band, so fingerprint width must grow
    with corpus size exactly like the hyperplane count in
    tools/scale_smoke. Needs the full AFP_SAMPLES frame count;
    anything else -> None."""
    import numpy as np

    s = wav_pcm16_samples(data)
    if s is None or s.size < AFP_SAMPLES:
        return None
    e = (
        np.abs(s[:AFP_SAMPLES].astype(np.int64))
        .reshape(AFP_WINDOWS, AFP_WIN)
        .sum(axis=1)
    )
    bits = (e[:-1] > e[1:]).astype(np.int64)
    w = 1 << (np.arange(64, dtype=np.int64) % 32)
    return int((bits[:32] * w[:32]).sum()), int((bits[32:] * w[32:]).sum())


def with_audio_fingerprint(df, content_col: str = "content"):
    """Attach ``fp_hi`` / ``fp_lo`` (the 64-bit energy-gradient
    fingerprint halves, NULL for undecodable content) via one
    Arrow-batched pandas UDF."""
    from pyspark.sql import functions as F

    @pandas_udf("struct<fp_hi: long, fp_lo: long>")
    def _fp(content: pd.Series) -> pd.DataFrame:
        his: list[int | None] = []
        los: list[int | None] = []
        for b in content:
            r = audio_fingerprint(b)
            his.append(None if r is None else r[0])
            los.append(None if r is None else r[1])
        return pd.DataFrame({"fp_hi": his, "fp_lo": los})

    return df.withColumn("_fp", _fp(F.col(content_col))).select(
        "*", "_fp.fp_hi", "_fp.fp_lo"
    ).drop("_fp")


def synth_wav_vad(doc_id: int) -> bytes:
    """Deterministic VAD fixture: 6 + id % 5 frames of 40 samples each;
    frame b is VOICED iff the first md5 byte of ``vd:{id}:{b}`` >= 128
    (a fair coin), in which case sample i of the frame is
    ±(8192 + h16 % 8192) (alternating sign, |value| in [8192, 16383] —
    safely above any sane threshold); silent frames are all zeros.
    The voiced/silent pattern — and therefore every VAD statistic —
    has a closed-form SQL oracle."""
    n_frames = 6 + doc_id % 5
    samples = []
    for b in range(n_frames):
        if _md5_int(f"vd:{doc_id}:{b}", 2) >= 128:
            for i in range(40):
                mag = 8192 + _md5_int(f"vd:{doc_id}:{b}:{i}", 4) % 8192
                samples.append(mag if i % 2 == 0 else -mag)
        else:
            samples.extend([0] * 40)
    return wav_bytes(pcm_fmt(1, 1, 8000, 16), _pcm16(samples))


def vad_segments(
    data: bytes | None, frame: int = 40, thresh: float = 0.1
):
    """Energy-threshold voice-activity segmentation — the pass that
    turns a long recording into training utterances (the reference
    ingests whole files only, src/main.rs:760; segmentation is the
    engine-side extension every speech pipeline needs): decode PCM16,
    split into ``frame``-sample windows (the trailing partial window
    is dropped, standard practice), mark a window voiced when its
    mean |amplitude| (normalized to [0, 1]) exceeds ``thresh``, and
    merge consecutive voiced windows into segments. Returns
    ``(n_frames, n_voiced, n_segments, longest_run)`` or ``None`` for
    undecodable input."""
    import numpy as np

    s = wav_pcm16_samples(data)
    if s is None:
        return None
    n_frames = s.size // frame
    if n_frames == 0:
        return 0, 0, 0, 0
    w = (
        np.abs(s[: n_frames * frame].astype(np.float64)) / 32768.0
    ).reshape(n_frames, frame)
    voiced = w.mean(axis=1) > thresh
    n_voiced = int(voiced.sum())
    n_segments = 0
    longest = 0
    run = 0
    for v in voiced:
        if v:
            run += 1
            if run == 1:
                n_segments += 1
            longest = max(longest, run)
        else:
            run = 0
    return n_frames, n_voiced, n_segments, longest
