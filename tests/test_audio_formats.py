"""Header-sniffing behavior for the multi-format audio extension
(crafted minimal container headers — no codec libs involved)."""

from __future__ import annotations

import struct

from audios_to_dataset_spark.functions.audio_formats import (
    parse_audio_header,
)


def _flac_bytes(sr: int = 44100, total: int = 44100 * 3) -> bytes:
    info = bytearray(34)
    info[0:2] = (4096).to_bytes(2, "big")  # min blocksize
    info[2:4] = (4096).to_bytes(2, "big")
    info[10] = (sr >> 12) & 0xFF
    info[11] = (sr >> 4) & 0xFF
    # byte 12: sr low nibble | (channels-1)<<1 | bps-1 high bit
    info[12] = ((sr & 0xF) << 4) | ((2 - 1) << 1)
    # byte 13: (bps-1) low nibble << 4 | total_samples[35:32]
    info[13] = (15 << 4) | ((total >> 32) & 0x0F)
    info[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    return b"fLaC" + bytes([0x80, 0, 0, 34]) + bytes(info)


def test_flac_streaminfo():
    fmt, sr, dur, est = parse_audio_header(_flac_bytes())
    assert (fmt, sr, est) == ("flac", 44100, False)
    assert abs(dur - 3.0) < 1e-9


def test_ogg_vorbis_id_header():
    page = b"OggS" + bytes(2) + struct.pack("<q", 0) + bytes(12) + b"\x01"
    packet = b"\x01vorbis" + struct.pack("<IBI", 0, 2, 22050)
    data = page + packet
    fmt, sr, dur, est = parse_audio_header(data)
    assert (fmt, sr) == ("ogg", 22050)
    # no final-page granule beyond 0 → duration known-exact at 0.0
    assert dur == 0.0 and est is False


def test_opus_head():
    page = b"OggS" + bytes(2) + struct.pack("<q", 48000 + 312) + bytes(12)
    packet = b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
    packet += struct.pack("<I", 16000) + bytes(3)
    fmt, sr, dur, est = parse_audio_header(page + packet)
    assert (fmt, sr, est) == ("opus", 48000, False)
    assert abs(dur - 1.0) < 1e-9  # granule minus pre-skip, at 48 kHz


def test_mp3_first_frame_with_id3():
    id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10])  # 10-byte ext area
    frame = bytes([0xFF, 0xFB, 0x90, 0x00])  # V1 L3, 128 kbps, 44100
    body = bytes(16000 - 4)
    fmt, sr, dur, est = parse_audio_header(id3 + bytes(10) + frame + body)
    assert (fmt, sr, est) == ("mp3", 44100, True)
    assert abs(dur - 1.0) < 1e-3  # 16000 bytes at 128 kbps ≈ 1 s


def test_garbage_and_none_keep_zeros():
    assert parse_audio_header(None) == (None, 0, 0.0, False)
    assert parse_audio_header(b"") == (None, 0, 0.0, False)
    assert parse_audio_header(b"\x00" * 64) == (None, 0, 0.0, False)


def test_wav_still_delegates():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 8000)
    fmt, sr, dur, est = parse_audio_header(buf.getvalue())
    assert (fmt, sr, est) == ("wav", 8000, False)
    assert abs(dur - 1.0) < 1e-9


def test_udf_batch(spark):
    from pyspark.sql import functions as F

    from audios_to_dataset_spark.functions.audio_formats import audio_info

    df = spark.createDataFrame(
        [(1, _flac_bytes()), (2, b"junk")], "id long, content binary"
    )
    rows = {
        r.id: r.a
        for r in df.select(
            "id", audio_info(F.col("content")).alias("a")
        ).collect()
    }
    assert rows[1].format == "flac" and rows[1].sampling_rate == 44100
    assert rows[2].format is None and rows[2].sampling_rate == 0


def test_fuzz_never_raises():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=512))
    def run(data):
        fmt, sr, dur, est = parse_audio_header(data)
        assert fmt in (None, "wav", "flac", "ogg", "opus", "mp3")
        assert sr >= 0 and dur >= 0.0 and isinstance(est, bool)

    run()


def test_audio_fingerprint_contract():
    """Fingerprint: two 32-bit halves, NULL/short/non-PCM16 -> None, and
    the 4x16-bit banding recalls every pair within 3 bits (pigeonhole)."""
    import itertools

    from audios_to_dataset_spark.functions.wav import (
        AFP_GROUPS,
        audio_fingerprint,
        synth_wav,
        synth_wav_group,
    )

    fps = {
        d: audio_fingerprint(synth_wav_group(d)) for d in range(100)
    }
    assert all(
        0 <= hi < 1 << 32 and 0 <= lo < 1 << 32
        for hi, lo in fps.values()
    )
    assert audio_fingerprint(None) is None
    assert audio_fingerprint(b"RIFFxxxxWAVE") is None
    # full-length sine WAV fingerprints fine; 100-sample one is too short
    assert audio_fingerprint(synth_wav(n_samples=1040)) is not None
    assert audio_fingerprint(synth_wav(n_samples=100)) is None

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    def bandkeys(f):
        return {
            (0, f[0] >> 16), (1, f[0] & 65535),
            (2, f[1] >> 16), (3, f[1] & 65535),
        }

    same = [
        ham(fps[a], fps[b])
        for a, b in itertools.combinations(fps, 2)
        if a % AFP_GROUPS == b % AFP_GROUPS
    ]
    assert same and max(same) <= 4  # one window flips <= 2 bits per clip
    for a, b in itertools.combinations(fps, 2):
        if ham(fps[a], fps[b]) <= 3:
            assert bandkeys(fps[a]) & bandkeys(fps[b])


def test_audio_container_headers_malformed():
    """MP3/FLAC/Opus header walks: keep-with-fallback on malformed
    input, ID3v2 skip, and mixed-frame MP3 walks."""
    from audios_to_dataset_spark.functions.audio_headers import (
        parse_flac_header,
        parse_mp3_header,
        parse_opus_header,
        synth_flac,
        synth_mp3,
        synth_opus,
    )

    assert parse_mp3_header(None) == (None, 0, 0, 0)
    assert parse_flac_header(b"") == (None, 0, 0, 0)
    assert parse_opus_header(b"OggS" + bytes(40)) == (None, 0, 0, 0)
    # truncated mid-frame: only the whole frames count
    full = synth_mp3(4)
    fmt, sr, ch, ms = parse_mp3_header(full)
    assert fmt == "mp3" and ms > 0
    cut = parse_mp3_header(full[: len(full) - 10])
    assert cut[0] == "mp3" and cut[3] < ms
    # free-format bitrate index and reserved sample-rate index rejected
    assert parse_mp3_header(b"\xff\xfb\x00\x00") == (None, 0, 0, 0)
    assert parse_mp3_header(b"\xff\xfb\x1c\x00") == (None, 0, 0, 0)
    # FLAC with a non-STREAMINFO first block rejected
    bad = bytearray(synth_flac(3))
    bad[4] = 0x84  # type 4 (VORBIS_COMMENT)
    assert parse_flac_header(bytes(bad)) == (None, 0, 0, 0)
    # Opus page whose packet is not OpusHead rejected
    bado = bytearray(synth_opus(3))
    bado[29:37] = b"NotOpus!"
    assert parse_opus_header(bytes(bado)) == (None, 0, 0, 0)


def test_aiff_header_extended_float():
    """AIFF: 80-bit extended-float rate decodes by integer shifts;
    denormal/negative exponents and missing COMM reject."""
    from audios_to_dataset_spark.functions.audio_headers import (
        parse_aiff_header,
        synth_aiff,
    )

    fmt, sr, ch, ms = parse_aiff_header(synth_aiff(7))
    assert (fmt, sr, ch) == ("aiff", 12000, 2)
    # negative sign bit in the exponent field rejects
    bad = bytearray(synth_aiff(7))
    comm = bytes(bad).index(b"COMM") + 8 + 8
    bad[comm] |= 0x80
    assert parse_aiff_header(bytes(bad)) == (None, 0, 0, 0)
    assert parse_aiff_header(b"FORM\x00\x00\x00\x04AIFF") == (
        None, 0, 0, 0,
    )


def test_flac_roundtrip_all_subframe_types():
    """FLAC: encode→decode round-trips across sizes (partial final
    frame, constant first block, quiet signals hitting small Rice k,
    full-amplitude signals hitting the raw-residual escape), both CRCs
    verified."""
    import numpy as np

    from audios_to_dataset_spark.functions.flac import (
        decode_flac,
        encode_flac,
        synth_flac_md5,
    )

    rng = np.random.RandomState(11)
    for trial in range(25):
        n = int(rng.randint(0, 300))
        s = rng.randint(-32768, 32768, n).astype(np.int16)
        if trial % 5 == 0 and n >= 32:
            s[:32] = 123  # CONSTANT subframe
        if trial % 7 == 0:
            s = (s // 256).astype(np.int16)  # small Rice parameters
        sr = [8000, 16000, 44100][trial % 3]
        out = decode_flac(encode_flac(s, sr))
        assert out is not None
        assert out[0] == sr and np.array_equal(out[1], s)
    # fixture contract: n, rate from the id formula
    for i in (0, 1, 36, 499):
        out = decode_flac(synth_flac_md5(i))
        assert out is not None
        assert out[1].size == 64 + i % 37
        assert out[0] == 8000 + (i % 3) * 4000


def test_flac_rejects_malformed():
    """FLAC: non-FLAC magic, truncation, out-of-subset layouts and
    CRC-corrupted frames all return None (never raise)."""
    import numpy as np

    from audios_to_dataset_spark.functions.flac import (
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(4)
    good = encode_flac(rng.randint(-100, 100, 64).astype(np.int16), 8000)
    for junk in (None, b"", b"fLaC", good[:50], b"RIFF" + good[4:]):
        assert decode_flac(junk) is None
    # stereo / 24-bit STREAMINFO must be rejected (subset gate)
    bad = bytearray(good)
    bad[8 + 12] |= 0x02  # channels-1 = 1
    assert decode_flac(bytes(bad)) is None
    # single-bit corruption anywhere must never crash; frame-area
    # corruption is caught by CRC-8/CRC-16
    caught = 0
    for flip in range(len(good)):
        b = bytearray(good)
        b[flip] ^= 0x08
        out = decode_flac(bytes(b))
        if out is None:
            caught += 1
    assert caught > len(good) // 2


def test_aiff_sample_decode():
    """AIFF full decode: 16-bit BE and signed-8-bit round-trips, both
    channel counts, SSND offset honoring, and malformed rejection."""
    import numpy as np

    from audios_to_dataset_spark.functions.audio_headers import (
        decode_aiff_samples,
        encode_aiff,
        parse_aiff_header,
        synth_aiff_md5,
    )

    rng = np.random.RandomState(11)
    s = rng.randint(-32768, 32768, 180).astype(np.int16)
    for ch in (1, 2):
        got = decode_aiff_samples(encode_aiff(s, 12000, ch))
        n = (180 // ch) * ch
        assert got is not None and got[0] == 12000
        assert np.array_equal(got[1], s[:n])
    # 8-bit: quantized to high byte, decode widens back exactly
    q = ((s.astype(np.int64) >> 8) << 8).astype(np.int16)
    got = decode_aiff_samples(encode_aiff(q, 8000, 1, bits=8))
    assert got is not None and np.array_equal(got[1], q)
    # SSND offset: 4 junk bytes before the PCM must be skipped
    b = encode_aiff(s[:4], 8000, 1)
    idx = b.find(b"SSND")
    import struct as _s

    (csize,) = _s.unpack_from(">I", b, idx + 4)
    patched = (
        b[: idx + 4]
        + _s.pack(">I", csize + 4)
        + _s.pack(">II", 4, 0)
        + b"\xde\xad\xbe\xef"
        + b[idx + 16 :]
    )
    got = decode_aiff_samples(patched)
    assert got is not None and np.array_equal(got[1], s[:4])
    # fixture family: every 5th doc is 8-bit, parity sets channels
    for i in (0, 1, 2, 5, 7, 10):
        b = synth_aiff_md5(i)
        got = decode_aiff_samples(b)
        assert got is not None
        assert got[1].size == (48 + i % 41) * (1 + i % 2)
        fmt, r, c, _ = parse_aiff_header(b)
        assert (fmt, r, c) == ("aiff", 8000 + (i % 3) * 4000, 1 + i % 2)
    # malformed: truncated SSND, bad width, offset past chunk, garbage
    full = synth_aiff_md5(1)
    assert decode_aiff_samples(full[:40]) is None
    assert decode_aiff_samples(b"FORM\x00\x00\x00\x04AIFF") is None
    assert decode_aiff_samples(None) is None


def test_au_sample_decode():
    """Sun/NeXT AU: all three encodings round-trip, unknown-size
    (0xFFFFFFFF) reads to EOF, and malformed streams are rejected."""
    import struct as _s

    import numpy as np

    from audios_to_dataset_spark.functions.audio_headers import (
        decode_au_samples,
        encode_au,
        synth_au_md5,
    )
    from audios_to_dataset_spark.functions.wav import _mulaw_table

    rng = np.random.RandomState(4)
    s = rng.randint(-32768, 32768, 160).astype(np.int16)
    got = decode_au_samples(encode_au(s, 16000, 3))
    assert got is not None and got[0] == 16000
    assert np.array_equal(got[1], s)
    got = decode_au_samples(encode_au(s, 8000, 2))
    assert np.array_equal(
        got[1], ((s.astype(np.int64) >> 8) << 8).astype(np.int16)
    )
    # µ-law: decode(encode(x)) is the nearest table value
    got = decode_au_samples(encode_au(s, 8000, 1))
    t = _mulaw_table().astype(np.int64)
    idx = np.abs(s.astype(np.int64)[:, None] - t[None, :]).argmin(axis=1)
    assert np.array_equal(got[1], t[idx].astype(np.int16))
    # unknown data size -> read to EOF
    b = encode_au(s[:8], 8000, 3)
    unk = b[:8] + _s.pack(">I", 0xFFFFFFFF) + b[12:]
    got = decode_au_samples(unk)
    assert got is not None and np.array_equal(got[1], s[:8])
    # fixture family cycles encodings; sizes follow the id formula
    for i in range(12):
        got = decode_au_samples(synth_au_md5(i))
        assert got is not None
        assert got[1].size == 40 + i % 37
        assert got[0] == 8000 + (i % 2) * 8000
    # malformed: bad magic, offset < 24, size overrun, bad encoding
    assert decode_au_samples(b"snd." + b[4:]) is None
    assert decode_au_samples(b[:4] + _s.pack(">I", 12) + b[8:]) is None
    assert decode_au_samples(b[:8] + _s.pack(">I", 10_000) + b[12:]) is None
    assert decode_au_samples(
        b[:12] + _s.pack(">I", 27) + b[16:]
    ) is None
    assert decode_au_samples(b[:20]) is None
    assert decode_au_samples(None) is None


def test_wav_short_fmt_chunk_rejected():
    """ADVICE r7: a fmt chunk declaring csize < 16 must not be parsed
    by reading into the NEXT chunk's bytes — every RIFF walker gates
    the fmt parse on the declared size now, so the malformed file
    falls back (keep-with-fallback) instead of transcoding garbage."""
    import struct

    import numpy as np

    from audios_to_dataset_spark.functions.wav import (
        parse_wav_header,
        wav_pcm16_frames,
        wav_pcm16_samples,
    )

    # fmt declares 4 bytes; the following data chunk header supplies
    # the remaining 12 bytes a lax parser would misread as fmt fields
    fmt_body = struct.pack("<HH", 1, 1)  # tag=PCM, channels=1 ... cut
    payload = np.arange(8, dtype="<i2").tobytes()
    blob = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 4 + 8 + len(payload)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 4) + fmt_body
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    assert parse_wav_header(blob) == (0.0, 0)
    assert wav_pcm16_frames(blob) is None
    assert wav_pcm16_samples(blob) is None
    # a conforming 16-byte fmt still parses
    good_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    good = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 16 + 8 + len(payload)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + good_fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    dur, rate = parse_wav_header(good)
    assert rate == 8000 and dur > 0
    got = wav_pcm16_frames(good)
    assert got is not None and got[2] == 1 and got[1] == 8000


def test_adts_aac_header_walk():
    """ADTS parser (round 9): table rates, channel configs, variable
    frame lengths, truncation/corruption fallbacks."""
    from audios_to_dataset_spark.functions.audio_headers import (
        ADTS_RATES,
        parse_adts_header,
        synth_adts,
    )

    for i in (0, 1, 5, 12, 25, 38, 77):
        blob = synth_adts(i)
        fmt, sr, ch, ms = parse_adts_header(blob)
        assert fmt == "aac"
        assert sr == ADTS_RATES[i % 13]
        assert ch == 1 + i % 2
        assert ms == (2 + i % 6) * 1024 * 1000 // sr
    assert parse_adts_header(None) == (None, 0, 0, 0)
    assert parse_adts_header(b"\xff\xf1") == (None, 0, 0, 0)
    # truncated mid-frame: only the complete leading frames count
    blob = synth_adts(9)  # 2 + 9 % 6 = 5 frames
    fmt, sr, ch, ms = parse_adts_header(blob[:-3])
    assert fmt == "aac" and ms == 4 * 1024 * 1000 // sr
    # reserved frequency index rejected
    bad = bytearray(synth_adts(0))
    bad[2] = (bad[2] & 0xC3) | (13 << 2)
    assert parse_adts_header(bytes(bad)) == (None, 0, 0, 0)
    # rate disagreement between frames stops the walk at frame 1
    b1 = bytearray(synth_adts(0))
    first_len = 7 + 5 + 0 % 40
    b1[first_len + 2] = (b1[first_len + 2] & 0xC3) | (4 << 2)
    fmt, sr, _ch, ms = parse_adts_header(bytes(b1))
    assert fmt == "aac" and sr == ADTS_RATES[0]
    assert ms == 1024 * 1000 // sr
