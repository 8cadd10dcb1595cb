"""Structured-mutation fuzz: bit flips, truncations, and random
splices INSIDE valid container streams — harsher than the pure-random
garbage in test_properties, because mutated valid headers reach deep
decoder states that random bytes never do. Every decoder must honor
the keep-with-fallback contract (return None/zeros, never raise) on
any mutation. A 28k-trial one-off of this suite ran clean in round 8;
this committed version keeps 300 trials per format as regression
insurance.
"""

from __future__ import annotations

import numpy as np

from audios_to_dataset_spark.functions.audio_headers import (
    decode_aiff_samples,
    decode_au_samples,
    encode_aiff,
    encode_au,
    parse_adts_header,
    parse_ebml,
    parse_ogg_pages,
    synth_adts,
    synth_ebml,
    synth_ogg_stream,
)
from audios_to_dataset_spark.functions.flac import decode_flac, encode_flac
from audios_to_dataset_spark.functions.multimodal import (
    decode_png_pixels,
    decode_tiff_pixels,
    encode_png,
    encode_tiff,
)
from audios_to_dataset_spark.functions.vp8l import (
    decode_vp8l_pixels,
    encode_vp8l_lz77,
)
from audios_to_dataset_spark.functions.wav import (
    downmix_stereo,
    parse_wav_header,
    segment_wav_bytes,
    synth_wav,
    wav_pcm16_frames,
    wav_pcm16_samples,
    wav_pcm_stats,
)

TRIALS = 300


def _mutate(rng: np.random.RandomState, blob: bytes) -> bytes:
    b = bytearray(blob)
    for _ in range(rng.randint(1, 6)):
        op = rng.randint(3)
        if op == 0 and len(b) > 1:
            b[rng.randint(len(b))] ^= 1 << rng.randint(8)
        elif op == 1 and len(b) > 8:
            del b[rng.randint(1, len(b)):]
        else:
            i = rng.randint(len(b))
            b[i:i] = bytes(rng.randint(0, 256, rng.randint(1, 9)).tolist())
    return bytes(b)


def _wav_all(b: bytes):
    parse_wav_header(b)
    wav_pcm16_frames(b)
    wav_pcm16_samples(b)
    wav_pcm_stats(b)
    downmix_stereo(b)
    segment_wav_bytes(b, 0.005)


def test_decoders_never_raise_on_mutated_valid_streams():
    rng = np.random.RandomState(4242)
    px = rng.randint(0, 256, (9, 11, 3)).astype(np.uint8)
    samples = rng.randint(-32768, 32767, 200).astype(np.int16)
    from audios_to_dataset_spark.functions.jpeg import (
        decode_jpeg_pixels,
        synth_gray_jpeg,
        synth_gray_jpeg_progressive,
    )
    from audios_to_dataset_spark.functions.multimodal import (
        decode_avi_frames,
        decode_bmp_pixels,
        decode_gif_frames,
        decode_ico_pixels,
        decode_pnm_pixels,
        decode_tga_pixels,
        encode_avi_raw,
        encode_bmp,
        synth_gray_gif_anim,
        synth_gray_ico,
        synth_gray_pnm,
        synth_gray_tga,
    )
    from audios_to_dataset_spark.functions.qoi import (
        decode_qoi_pixels,
        encode_qoi,
    )

    frames = [
        rng.randint(0, 256, (8, 8, 3)).astype(np.uint8) for _ in range(3)
    ]
    cases = [
        ("vp8l", encode_vp8l_lz77(px, cache_bits=4), decode_vp8l_pixels),
        ("png", encode_png(px, cycle_filters=True), decode_png_pixels),
        ("tiff", encode_tiff(px, packbits=True), decode_tiff_pixels),
        ("wav", synth_wav(16000, 300), _wav_all),
        ("flac", encode_flac(samples, 44100), decode_flac),
        # parameter-grid streams (VERDICT r8 item 4): the fuzz corpus
        # must cover the encode modes the shipping --transcode-flac
        # path can emit, not just the mono default — 8-channel at the
        # 20-bit rate ceiling, and the full-amplitude square that
        # forces the Rice raw-escape branch
        ("flac_8ch",
         encode_flac(rng.randint(-32768, 32767, 96 * 8).astype(np.int16),
                     (1 << 20) - 1, channels=8),
         decode_flac),
        ("flac_escape",
         encode_flac(np.where(np.arange(96) % 2 == 0, 32767, -32768)
                     .astype(np.int16), 44100),
         decode_flac),
        ("aiff", encode_aiff(samples, 44100), decode_aiff_samples),
        ("adts", synth_adts(7), parse_adts_header),
        ("au", encode_au(samples, 44100), decode_au_samples),
        ("bmp", encode_bmp(px), decode_bmp_pixels),
        ("qoi", encode_qoi(px), decode_qoi_pixels),
        ("jpeg", synth_gray_jpeg(7), decode_jpeg_pixels),
        ("jpeg_prog", synth_gray_jpeg_progressive(7), decode_jpeg_pixels),
        ("gif_anim", synth_gray_gif_anim(7), decode_gif_frames),
        ("tga", synth_gray_tga(7), decode_tga_pixels),
        ("ico", synth_gray_ico(7), decode_ico_pixels),
        ("pnm", synth_gray_pnm(7), decode_pnm_pixels),
        ("avi", encode_avi_raw(frames), decode_avi_frames),
        # round-9 container walks: Ogg pages (CRC + lacing) and EBML
        # varint framing — mutated valid headers reach the recursive
        # master-element and continued-packet states
        ("ogg", synth_ogg_stream(7), parse_ogg_pages),
        ("ebml", synth_ebml(7), parse_ebml),
        # stereo reaches downmix_stereo's decode path
        ("wav_stereo", synth_wav(16000, 150, channels=2), _wav_all),
    ]
    for name, blob, dec in cases:
        # the unmutated stream must decode (guards the fixture itself)
        assert dec(blob) is not None or dec is _wav_all
        for t in range(TRIALS):
            mutated = _mutate(rng, blob)
            try:
                dec(mutated)
            except Exception as e:  # pragma: no cover - the failure path
                raise AssertionError(
                    f"{name} raised {type(e).__name__} on mutation {t}"
                ) from e
