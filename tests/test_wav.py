"""WAV header decode parity (P4).

Golden values mirror the reference's fixtures
(/root/reference/tests/end_to_end.rs:332-351): 16-bit mono PCM sine WAVs
of exactly `sample_rate` samples → duration exactly 1.0 s; parse failures
→ (0.0, 0) (src/main.rs:768)."""

from __future__ import annotations

import struct

import pytest

from audios_to_dataset_spark.functions.wav import parse_wav_header, synth_wav


@pytest.mark.parametrize("rate", [8_000, 16_000, 22_050, 44_100])
def test_one_second_wav(rate):
    duration, sr = parse_wav_header(synth_wav(sample_rate=rate))
    assert duration == 1.0
    assert sr == rate


def test_half_second_stereo():
    data = synth_wav(sample_rate=16_000, n_samples=8_000, channels=2)
    duration, sr = parse_wav_header(data)
    assert duration == 0.5
    assert sr == 16_000


@pytest.mark.parametrize(
    "data",
    [None, b"", b"not a wav at all", b"RIFF\x00\x00\x00\x00MP3 ",
     b"RIFF\x10\x00\x00\x00WAVE"],
)
def test_non_wav_fallback(data):
    assert parse_wav_header(data) == (0.0, 0)


def test_truncated_data_chunk():
    # data chunk claims more bytes than present → clamp, still parses
    full = synth_wav(sample_rate=8_000)
    truncated = full[: len(full) - 1000]
    duration, sr = parse_wav_header(truncated)
    assert sr == 8_000
    assert 0.0 < duration < 1.0


def test_segment_wav_bytes_roundtrip():
    from audios_to_dataset_spark.functions.wav import (
        parse_wav_header,
        segment_wav_bytes,
        synth_wav,
    )

    src = synth_wav(sample_rate=8000)  # exactly 1.0 s
    segs = segment_wav_bytes(src, 0.25)
    assert [s[0] for s in segs] == [0, 1, 2, 3]
    assert [round(s[1], 6) for s in segs] == [0.0, 0.25, 0.5, 0.75]
    body = b""
    for _, _, dur, riff in segs:
        d, sr = parse_wav_header(riff)
        assert (d, sr) == (0.25, 8000)
        assert dur == 0.25
        body += riff[44:]
    assert body == src[44:]  # concatenated segment payloads == original

    # tail segment shorter than the window
    segs = segment_wav_bytes(synth_wav(8000, n_samples=10000), 0.5)
    assert [s[2] for s in segs] == [0.5, 0.5, 0.25]
    # garbage in → no segments, no exception
    assert segment_wav_bytes(b"not a wav", 0.25) == []
    assert segment_wav_bytes(None, 0.25) == []


def test_segment_wavs_spark(spark, tmp_path):
    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import segment_files
    from audios_to_dataset_spark.sources.binary_scan import scan_audio_files

    for i in range(3):
        (tmp_path / f"c{i}.wav").write_bytes(
            synth_wav(16000, n_samples=16000 * (i + 1))
        )
    files = scan_audio_files(spark, str(tmp_path))
    segs = segment_files(files, seg_seconds=1.0).collect()
    # 1 + 2 + 3 one-second segments
    assert len(segs) == 6
    by_file = {}
    for r in segs:
        by_file.setdefault(r.relative_path, []).append(r)
    assert sorted(len(v) for v in by_file.values()) == [1, 2, 3]
    assert all(
        parse_wav_header(bytes(r.content)) == (1.0, 16000) for r in segs
    )
    assert all(bytes(r.content)[:4] == b"RIFF" for r in segs)


def test_wav_stats_sine(spark):
    """Full-scale 1 s sine: RMS ≈ 1/√2, peak ≈ 1, tiny clipped fraction."""
    import math

    from pyspark.sql import functions as F

    from audios_to_dataset_spark.functions.wav import synth_wav, wav_stats

    df = spark.createDataFrame(
        [(synth_wav(sample_rate=8000),)], "content binary"
    )
    row = df.select(wav_stats(F.col("content")).alias("s")).select(
        "s.*"
    ).collect()[0]
    assert row.n_samples == 8000
    assert abs(row.rms - 1.0 / math.sqrt(2.0)) < 0.01
    assert 0.99 <= row.peak <= 1.0
    # a full-scale sine touches ±32767 on ~1% of samples
    assert 0.0 <= row.clipped_frac <= 0.02


def test_wav_stats_silence_and_garbage(spark):
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.functions.wav import synth_wav, wav_stats

    silent = synth_wav(sample_rate=1000, freq_hz=0.0)
    df = spark.createDataFrame(
        [(silent,), (b"not a wav",), (None,)], "content binary"
    )
    rows = df.select(wav_stats(F.col("content")).alias("s")).select(
        "s.*"
    ).collect()
    assert rows[0].rms == 0.0 and rows[0].n_samples == 1000
    assert rows[1] == rows[2]  # both degrade to all-zeros
    assert rows[1].n_samples == 0


def test_audio_stats_oracle_parity():
    """The exact-in-double argument behind q_audio_stats: every sample's
    (v/32768)^2 is a dyadic rational and the sums stay under 53 bits, so
    a sequential python replay must reproduce wav_pcm_stats bit-for-bit
    regardless of numpy's pairwise summation order."""
    import hashlib
    import math

    from audios_to_dataset_spark.functions.wav import (
        synth_wav_md5,
        wav_pcm_stats,
    )

    for doc_id in (0, 5, 36, 123):
        n = 64 + doc_id % 37
        vals = [
            int(
                hashlib.md5(f"au:{doc_id}:{i}".encode()).hexdigest()[:4], 16
            )
            - 32768
            for i in range(n)
        ]
        rms, peak, clipped, n_out = wav_pcm_stats(synth_wav_md5(doc_id))
        assert n_out == n
        ps = [v / 32768.0 for v in vals]
        assert rms == math.sqrt(sum(p * p for p in ps) / n)
        assert peak == max(abs(p) for p in ps)
        assert clipped == sum(abs(v) >= 32767 for v in vals) / n


def test_mulaw_decode_known_values():
    """ITU-T G.711 spot values: code 0x00 -> -32124 (max negative),
    0xFF -> 0, 0x7F -> 0, symmetry between sign halves."""
    from audios_to_dataset_spark.functions.wav import _mulaw_decode_byte

    assert _mulaw_decode_byte(0x00) == -32124
    assert _mulaw_decode_byte(0x80) == 32124
    assert _mulaw_decode_byte(0xFF) == 0
    assert _mulaw_decode_byte(0x7F) == 0
    for c in range(128):
        assert _mulaw_decode_byte(c) == -_mulaw_decode_byte(c + 128)


def test_wav_stats_mulaw_vs_python():
    import hashlib

    from audios_to_dataset_spark.functions.wav import (
        _mulaw_decode_byte,
        synth_wav_md5_ulaw,
        wav_pcm_stats,
    )

    doc_id = 11
    n = 48 + doc_id % 29
    codes = [
        int(hashlib.md5(f"ul:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
        for i in range(n)
    ]
    ps = [_mulaw_decode_byte(c) / 32768.0 for c in codes]
    rms, peak, clipped, n_out = wav_pcm_stats(synth_wav_md5_ulaw(doc_id))
    import math

    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)
    assert clipped == 0.0  # mu-law max magnitude 32124 < 32767


def test_alaw_decode_known_values():
    """CCITT G.711 A-law reference pairs: 0x55/0xD5 are -8/+8 (segment
    0), 0x2A/0xAA are the +/- full-scale 32256 codes."""
    from audios_to_dataset_spark.functions.wav import _alaw_decode_byte

    assert _alaw_decode_byte(0x55) == -8
    assert _alaw_decode_byte(0xD5) == 8
    assert _alaw_decode_byte(0x2A) == -32256
    assert _alaw_decode_byte(0xAA) == 32256


def test_wav_stats_alaw_pcm8_f32_vs_python():
    """The three r5 format paths (A-law tag 6, unsigned PCM8 tag 1/8,
    IEEE float tag 3/32) against literal python replays of their md5
    fixture formulas."""
    import hashlib
    import math
    import struct as _s

    from audios_to_dataset_spark.functions.wav import (
        _alaw_decode_byte,
        synth_wav_md5_alaw,
        synth_wav_md5_f32,
        synth_wav_md5_pcm8,
        wav_pcm_stats,
    )

    doc_id = 7
    # A-law
    n = 40 + doc_id % 23
    ps = [
        _alaw_decode_byte(
            int(hashlib.md5(f"al:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
        )
        / 32768.0
        for i in range(n)
    ]
    rms, peak, _c, n_out = wav_pcm_stats(synth_wav_md5_alaw(doc_id))
    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)
    # PCM8
    n = 56 + doc_id % 31
    ps = [
        (
            int(hashlib.md5(f"p8:{doc_id}:{i}".encode()).hexdigest()[:2], 16)
            - 128
        )
        * 256
        / 32768.0
        for i in range(n)
    ]
    rms, peak, clipped, n_out = wav_pcm_stats(synth_wav_md5_pcm8(doc_id))
    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)
    # code 0x00 widens to -32768 (|p| = 1.0), which counts as clipped
    assert clipped == sum(abs(p) >= 32767 / 32768 for p in ps) / n
    # float32 — fixture samples are 16-bit dyadic rationals: exact in f32
    n = 32 + doc_id % 19
    ps = [
        (
            int(hashlib.md5(f"f3:{doc_id}:{i}".encode()).hexdigest()[:4], 16)
            - 32768
        )
        / 32768.0
        for i in range(n)
    ]
    enc = synth_wav_md5_f32(doc_id)
    assert _s.unpack_from("<f", enc, 44)[0] == ps[0]
    rms, peak, _c, n_out = wav_pcm_stats(enc)
    assert n_out == n
    assert rms == math.sqrt(sum(p * p for p in ps) / n)
    assert peak == max(abs(p) for p in ps)


def test_wav_stats_ima_adpcm_vs_python():
    """The IMA ADPCM state machine against a literal python replay of
    the fixture recurrence (the same recurrence the SQL oracle runs as
    a recursive CTE)."""
    import hashlib
    import math

    from audios_to_dataset_spark.functions.wav import (
        ima_adpcm_step,
        parse_wav_header,
        synth_wav_md5_adpcm,
        wav_pcm_stats,
    )

    for doc in (0, 3, 7, 10):
        n_nib = 24 + 2 * (doc % 11)
        pred = (
            int(hashlib.md5(f"ap:{doc}".encode()).hexdigest()[:4], 16)
            - 32768
        )
        idx = int(hashlib.md5(f"ai:{doc}".encode()).hexdigest()[:2], 16) % 89
        ps = [pred / 32768.0]
        for k in range(n_nib):
            nib = int(
                hashlib.md5(f"ad:{doc}:{k}".encode()).hexdigest()[0], 16
            )
            pred, idx = ima_adpcm_step(pred, idx, nib)
            assert -32768 <= pred <= 32767 and 0 <= idx <= 88
            ps.append(pred / 32768.0)
        rms, peak, _c, n_out = wav_pcm_stats(synth_wav_md5_adpcm(doc))
        assert n_out == 1 + n_nib
        assert rms == math.sqrt(sum(p * p for p in ps) / len(ps))
        assert peak == max(abs(p) for p in ps)
        _d, sr = parse_wav_header(synth_wav_md5_adpcm(doc))
        assert sr == 8000


def test_resample_linear_exact_and_identity():
    """Identity at equal rates; 2x upsample inserts exact midpoints;
    expression parity with the SQL oracle (x0 + f*(x1-x0))."""
    import numpy as np

    from audios_to_dataset_spark.functions.wav import resample_linear

    x = np.array([0.0, 1.0, -0.5, 0.25], dtype=np.float64)
    same = resample_linear(x, 16000, 16000)
    assert same.size == 4 and (same == x).all()
    up = resample_linear(x, 8000, 16000)
    # positions 0, .5, 1, 1.5, 2, 2.5, 3 -> 7 samples
    assert up.size == 7
    assert up[0] == 0.0 and up[2] == 1.0 and up[6] == 0.25
    assert up[1] == 0.0 + 0.5 * (1.0 - 0.0)
    assert up[3] == 1.0 + 0.5 * (-0.5 - 1.0)
    down = resample_linear(x, 16000, 8000)
    assert down.size == 2 and down[0] == 0.0 and down[1] == -0.5
    assert resample_linear(np.empty(0), 8000, 16000).size == 0


def test_downmix_stereo_exact():
    """Interleave, decode, and average must match a literal replay of
    the md5 fixture formula; mono/garbage input degrades to ([], 0)."""
    import hashlib
    import math

    from audios_to_dataset_spark.functions.wav import (
        downmix_stereo,
        synth_wav,
        synth_wav_md5_stereo,
    )

    doc = 9
    n = 40 + doc % 21
    mono, sr = downmix_stereo(synth_wav_md5_stereo(doc))
    assert sr == 16000 and len(mono) == n
    for i in (0, 1, n - 1):
        sl = int(hashlib.md5(f"sl:{doc}:{i}".encode()).hexdigest()[:4], 16) - 32768
        r = int(hashlib.md5(f"sr:{doc}:{i}".encode()).hexdigest()[:4], 16) - 32768
        assert mono[i] == (sl + r) * 0.5 / 32768.0
    rms = math.sqrt(sum(p * p for p in mono) / n)
    assert rms == math.sqrt(sum(p * p for p in mono) / n)
    assert downmix_stereo(synth_wav(8000)) == ([], 0)  # mono input
    assert downmix_stereo(b"garbage") == ([], 0)
    assert downmix_stereo(None) == ([], 0)


def test_wave_format_extensible():
    """Tag 0xFFFE resolves through the SubFormat GUID: PCM16 and
    float32 fixtures decode to the identical signal; a corrupted
    KSDATAFORMAT suffix is rejected (zeros), not misread as PCM."""
    import numpy as np

    from audios_to_dataset_spark.functions.wav import (
        _KSDATAFORMAT_SUFFIX,
        parse_wav_header,
        synth_wav_md5_ext,
        wav_pcm_stats,
    )

    b_pcm = synth_wav_md5_ext(2)   # even -> PCM16 subformat
    b_f32 = synth_wav_md5_ext(3)   # odd  -> float32 subformat
    r_pcm = wav_pcm_stats(b_pcm)
    r_f32 = wav_pcm_stats(b_f32)
    assert r_pcm[3] == 44 + 2 % 31 and r_f32[3] == 44 + 3 % 31
    assert r_pcm[0] > 0 and r_f32[0] > 0
    # same doc, both subformats = identical dyadic signal
    dur, sr = parse_wav_header(b_pcm)
    assert sr == 8000 + (2 % 3) * 4000 and dur > 0
    # corrupt one suffix byte: the GUID is no longer KSDATAFORMAT ->
    # rejected, never treated as PCM
    idx = b_pcm.find(_KSDATAFORMAT_SUFFIX)
    bad = bytearray(b_pcm)
    bad[idx + 5] ^= 0xFF
    assert wav_pcm_stats(bytes(bad)) == (0.0, 0.0, 0.0, 0)
    # truncated fmt chunk (no GUID) -> rejected
    assert wav_pcm_stats(b_pcm[:40]) == (0.0, 0.0, 0.0, 0)


def test_vad_segments():
    """vad_segments: frame windowing, threshold, run merging, trailing
    partial-window drop, and undecodable fallback."""
    from audios_to_dataset_spark.functions.wav import (
        pcm_fmt,
        synth_wav_vad,
        vad_segments,
        wav_bytes,
    )

    # hand-built: 3 frames voiced-silent-voiced + 10 trailing samples
    def wav(samples):
        body = struct.pack(f"<{len(samples)}h", *samples)
        return wav_bytes(pcm_fmt(1, 1, 8000, 16), body)

    loud = [9000 if i % 2 == 0 else -9000 for i in range(40)]
    sig = loud + [0] * 40 + loud + [9000] * 10  # partial tail dropped
    assert vad_segments(wav(sig)) == (3, 2, 2, 1)
    # adjacent voiced frames merge into one segment
    assert vad_segments(wav(loud * 3)) == (3, 3, 1, 3)
    # all silent
    assert vad_segments(wav([0] * 120)) == (3, 0, 0, 0)
    # below 40 samples -> zero frames
    assert vad_segments(wav([9000] * 39)) == (0, 0, 0, 0)
    # fixture round-trip matches the md5 coin
    got = vad_segments(synth_wav_vad(7))
    assert got is not None and got[0] == 6 + 7 % 5
    assert vad_segments(b"nope") is None
    assert vad_segments(None) is None


def _chunk(cid: bytes, body: bytes, size: int | None = None) -> bytes:
    size = len(body) if size is None else size
    return cid + struct.pack("<I", size) + body + b"\x00" * (len(body) & 1)


def _riff(*chunks: bytes, form: bytes = b"WAVE") -> bytes:
    payload = form + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _fmt(channels: int, rate: int = 4, extra: bytes = b"") -> bytes:
    align = 2 * channels
    return _chunk(
        b"fmt ",
        struct.pack("<HHIIHH", 1, channels, rate, rate * align, align, 16)
        + extra,
    )


def _data(*vals: int, size: int | None = None) -> bytes:
    return _chunk(b"data", struct.pack(f"<{len(vals)}h", *vals), size)


def test_downmix_stereo_rejects_non_wave_riff():
    """A RIFF form other than WAVE (here AVI) is not a WAV, even when it
    carries 16-bit stereo fmt and data chunks: downmix_stereo follows
    the same RIFF…WAVE rule as every other reader."""
    from audios_to_dataset_spark.functions.wav import downmix_stereo

    wave = _riff(_fmt(2), _data(7, 8, 9, 10))
    assert downmix_stereo(wave)[1] == 4
    avi = _riff(_fmt(2), _data(7, 8, 9, 10), form=b"AVI ")
    assert downmix_stereo(avi) == ([], 0)


_PCM = (1, -2, 3, -4, 5, -6)
_MONO_OK = (
    (1.5, 4),
    (0.00011884889165799889, 0.00018310546875, 0.0, 6),
    list(_PCM),
    (list(_PCM), 4, 1),
    ([], 0),
    [(0, 0.0, 0.5, 48), (1, 0.5, 0.5, 48), (2, 1.0, 0.5, 48)],
)
_ALL_FAIL = ((0.0, 0), (0.0, 0.0, 0.0, 0), None, None, ([], 0), [])

# name -> (file, expected output of each reader). The expected values
# pin the chunk grammar the readers had before they shared read_wav.
# 4 Hz, so a 0.5 s segment is two frames.
WAV_EDGE_CASES = {
    "list_before_fmt": (
        _riff(_chunk(b"LIST", b"INFOx"), _fmt(1), _data(*_PCM)), _MONO_OK
    ),
    "data_before_fmt": (_riff(_data(*_PCM), _fmt(1)), _MONO_OK),
    "two_data_chunks_last_wins": (
        _riff(_fmt(2), _data(7, 8), _data(10, 20, 30, -40, 50, 61)),
        (
            (0.75, 4),
            (0.0011963643160655068, 0.001861572265625, 0.0, 6),
            [10, 20, 30, -40, 50, 61],
            ([10, 20, 30, -40, 50, 61], 4, 2),
            ([0.000457763671875, -0.000152587890625, 0.0016937255859375],
             4),
            [(0, 0.0, 0.5, 52), (1, 0.5, 0.25, 48)],
        ),
    ),
    "fmt_shorter_than_16": (
        _riff(_chunk(b"fmt ", _fmt(1)[8:22]), _data(*_PCM)), _ALL_FAIL
    ),
    "short_fmt_after_valid_fmt": (
        _riff(_fmt(1), _chunk(b"fmt ", bytes(14)), _data(*_PCM)), _MONO_OK
    ),
    "data_size_past_eof": (
        _riff(_fmt(1), _data(*_PCM, size=1000)), _MONO_OK
    ),
    "empty_data_chunk": (
        _riff(_fmt(1), _data()),
        ((0.0, 4), (0.0, 0.0, 0.0, 0), None, None, ([], 0), []),
    ),
    "pcm16_9_channels": (
        _riff(_fmt(9), _data(*range(18))),
        (
            (0.5, 4),
            (0.00030390155530374464, 0.000518798828125, 0.0, 18),
            list(range(18)),
            None,
            ([], 0),
            [(0, 0.0, 0.5, 80)],
        ),
    ),
    "odd_length_fmt_body": (
        _riff(_fmt(1, extra=b"\x07"), _data(*_PCM)),
        _MONO_OK[:5]
        + ([(0, 0.0, 0.5, 50), (1, 0.5, 0.5, 50), (2, 1.0, 0.5, 50)],),
    ),
}


@pytest.mark.parametrize("case", sorted(WAV_EDGE_CASES))
def test_wav_readers_edge_cases(case):
    from audios_to_dataset_spark.functions.wav import (
        downmix_stereo,
        segment_wav_bytes,
        wav_pcm16_frames,
        wav_pcm16_samples,
        wav_pcm_stats,
    )

    b, want = WAV_EDGE_CASES[case]
    s = wav_pcm16_samples(b)
    f = wav_pcm16_frames(b)
    got = (
        parse_wav_header(b),
        wav_pcm_stats(b),
        None if s is None else s.tolist(),
        None if f is None else (f[0].tolist(), f[1], f[2]),
        downmix_stereo(b),
        [(i, st, d, len(r)) for i, st, d, r in segment_wav_bytes(b, 0.5)],
    )
    assert got == want


def test_segment_odd_length_fmt_body_is_padded():
    """A 17-byte fmt body is copied verbatim into every segment, followed
    by one pad byte, and the RIFF size counts that pad byte."""
    from audios_to_dataset_spark.functions.wav import segment_wav_bytes

    b, _ = WAV_EDGE_CASES["odd_length_fmt_body"]
    segs = [r for *_, r in segment_wav_bytes(b, 0.5)]
    head = (
        "524946462a00000057415645"  # RIFF, size 42, WAVE
        "666d742011000000"  # fmt , 17 bytes
        "01000100040000000800000002001000" "07" "00"  # body + pad
        "6461746104000000"  # data, 4 bytes
    )
    assert [r.hex() for r in segs] == [
        head + "0100feff", head + "0300fcff", head + "0500faff"
    ]
    assert all(parse_wav_header(r) == (0.5, 4) for r in segs)
