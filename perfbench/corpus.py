"""Seeded audio corpora for the ETL workloads, each with its expected truth.

A generator writes WAV files (and, for the clips corpus, a few non-audio
files) under ``<root>/audio`` and a metadata side table next to that
directory, never inside it. It returns a :class:`Corpus` whose ``truth``
maps every file the engine should keep to what the output must say about
it: duration, sampling rate, the metadata fallback level that should
match, and the transcription that level carries.

The engine receives only the files. Audio samples are slices of one
seeded noise pool, so generation costs little more than the disk writes,
and the same seed always gives byte-identical files.
"""

from __future__ import annotations

import csv
import json
import os
import struct
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np

# Fallback levels of operators.lookup_join, in priority order.
LEVELS = ("relative_path", "file_name", "file_name_as_path")
MISS = "miss"
TRANSCRIPTION_DEFAULT = "-"


# log of a speech utterance's length in seconds: median 6 s, sigma 0.5
LOG_UTTERANCE_S = NormalDist(np.log(6.0), 0.5)


@dataclass
class Expected:
    duration: float
    sampling_rate: int
    level: str  # one of LEVELS or MISS
    transcription: str


@dataclass
class Corpus:
    input_dir: str
    metadata_file: str
    truth: dict[str, Expected]  # relative_path -> expected output
    sizes: dict[str, int]  # relative_path -> file bytes
    n_rejected: int = 0  # non-audio files the MIME check must drop
    levels: dict[str, int] = field(default_factory=dict)

    @property
    def input_bytes(self) -> int:
        """Bytes of the files the engine keeps."""
        return sum(self.sizes.values())

    def shard_of(self, files_per_shard: int) -> dict[str, tuple[int, int]]:
        """relative_path -> (shard, row in shard): the engine sorts by
        relative path and cuts fixed-size buckets."""
        return {
            rel: divmod(i, files_per_shard)
            for i, rel in enumerate(sorted(self.truth))
        }


def wav_bytes(frames: np.ndarray, sampling_rate: int) -> bytes:
    """A canonical 44-byte-header PCM16 WAV; ``frames`` is (n, channels)."""
    channels = frames.shape[1]
    data = frames.astype("<i2").tobytes()
    block_align = 2 * channels
    header = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    header += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sampling_rate,
        sampling_rate * block_align, block_align, 16,
    )
    header += b"data" + struct.pack("<I", len(data))
    return header + data


class _Pool:
    """Seeded low-amplitude noise; files are slices of it."""

    def __init__(self, rng: np.random.Generator, n: int = 1 << 23):
        self.rng = rng
        self.samples = rng.integers(-3000, 3000, size=n, dtype=np.int16)

    def frames(self, n_frames: int, channels: int) -> np.ndarray:
        need = n_frames * channels
        if need > len(self.samples):
            reps = -(-need // len(self.samples))
            flat = np.tile(self.samples, reps)[:need]
        else:
            start = int(self.rng.integers(0, len(self.samples) - need + 1))
            flat = self.samples[start:start + need]
        return flat.reshape(n_frames, channels)


def _write(path: str, payload: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(payload)


def _assign_levels(rng, rels: list[str], shares: list[float]) -> dict:
    """Seeded assignment of each file to a fallback level or a miss; the
    count per level is fixed by ``shares``, only the choice of files
    depends on the seed."""
    kinds = list(LEVELS) + [MISS]
    counts = [int(round(sh * len(rels))) for sh in shares[:-1]]
    picks = np.repeat(np.arange(len(kinds)),
                      counts + [len(rels) - sum(counts)])
    return {rel: kinds[k] for rel, k in zip(rels, rng.permutation(picks))}


def _stratified(rng, n: int, ppf) -> np.ndarray:
    """``n`` values of a distribution given by its quantile function, one
    at the middle of each equal-probability stratum, in seeded order.
    The seed picks which file gets which value; the totals do not move
    between seeds, so run times compare across seeds."""
    return rng.permutation(ppf((np.arange(n) + 0.5) / n))


def _meta_row(rel: str, level: str) -> dict:
    """The metadata row that makes ``rel`` match at ``level``."""
    if level == "relative_path":
        return {"relative_path": rel, "file_name": ""}
    if level == "file_name":
        return {"relative_path": "", "file_name": os.path.basename(rel)}
    return {"relative_path": "", "file_name": rel}


def speech_corpus(root: str, seed: int, n_files: int) -> Corpus:
    """Read-speech layout ``speaker/chapter/speaker-chapter-utt.wav``.

    99 % of files are 16 kHz mono PCM16 with log-normal durations
    (median 6 s, clipped to 0.5-60 s); 1 % are 1-4 min 44.1 kHz stereo
    long-form recordings. CSV metadata matches 50 % of files by
    relative_path, 25 % by file_name and 5 % by a file_name holding the
    path; 20 % have no row. A few rows name files that do not exist.
    """
    rng = np.random.default_rng(seed)
    pool = _Pool(rng)
    input_dir = os.path.join(root, "audio")
    files: dict[str, tuple[int, int]] = {}  # rel -> (frames, sr)
    sizes: dict[str, int] = {}
    n_long = len(range(50, n_files, 100))
    long_s = iter(_stratified(rng, n_long, lambda u: 60.0 + 180.0 * u))
    short_s = iter(_stratified(
        rng, n_files - n_long,
        lambda u: np.clip(np.exp([LOG_UTTERANCE_S.inv_cdf(x) for x in u]),
                          0.5, 60.0),
    ))
    for i in range(n_files):
        speaker, chapter = 100 + i // 40, 1000 + i // 20
        rel = f"{speaker}/{chapter}/{speaker}-{chapter}-{i % 20:04d}.wav"
        if i % 100 == 50:
            sr, ch, seconds = 44100, 2, next(long_s)
        else:
            sr, ch, seconds = 16000, 1, next(short_s)
        n_frames = int(seconds * sr)
        payload = wav_bytes(pool.frames(n_frames, ch), sr)
        _write(os.path.join(input_dir, rel), payload)
        sizes[rel] = len(payload)
        files[rel] = (n_frames, sr)

    levels = _assign_levels(rng, sorted(files), [0.50, 0.25, 0.05, 0.20])
    metadata_file = os.path.join(root, "metadata.csv")
    rows = []
    truth = {}
    for rel, (n_frames, sr) in files.items():
        level = levels[rel]
        text = f"utterance {rel} via {level}"
        if level != MISS:
            rows.append({**_meta_row(rel, level), "transcription": text,
                         "match": level})
        truth[rel] = Expected(
            n_frames / sr, sr, level,
            text if level != MISS else TRANSCRIPTION_DEFAULT,
        )
    for k in range(n_files // 20):
        rows.append({"relative_path": f"999/9999/missing-{k}.wav",
                     "file_name": "", "transcription": "orphan",
                     "match": "orphan"})
    order = rng.permutation(len(rows))
    with open(metadata_file, "w", newline="") as f:
        w = csv.DictWriter(
            f, ["file_name", "relative_path", "transcription", "match"]
        )
        w.writeheader()
        for k in order:
            w.writerow(rows[k])
    return Corpus(input_dir, metadata_file, truth, sizes,
                  levels=_count(levels))


def clips_corpus(root: str, seed: int, n_files: int) -> Corpus:
    """Short-clip layout: 0.5-2 s 16 kHz mono clips, about 20 per
    directory (20,000 clips would fill 1,024 directories).

    2 % of the files are not audio (text notes and JPEG covers) and must
    be dropped by the MIME check. JSONL metadata carries typed columns
    (bool, float, list of strings, list of floats); it matches at all
    three fallback levels, and some keys repeat so that the first row
    must win. Some files matched by relative_path also carry a losing
    file_name row, so the fallback order is exercised too.
    """
    rng = np.random.default_rng(seed)
    pool = _Pool(rng)
    input_dir = os.path.join(root, "audio")
    files: dict[str, tuple[int, int]] = {}
    sizes: dict[str, int] = {}
    n_rejected = 0
    n_dirs = max(1, n_files // 20)
    non_audio = set(rng.choice(n_files, n_files // 50, replace=False))
    seconds = iter(_stratified(rng, n_files - len(non_audio),
                               lambda u: 0.5 + 1.5 * u))
    for i in range(n_files):
        d = f"{(i * 7919) % n_dirs:04x}"
        if i in non_audio:
            if i % 2:
                rel, payload = f"{d}/notes-{i:06d}.txt", b"take %d ok\n" % i
            else:
                rel = f"{d}/cover-{i:06d}.jpg"
                payload = b"\xff\xd8\xff\xe0" + rng.bytes(2000)
            _write(os.path.join(input_dir, rel), payload)
            n_rejected += 1
            continue
        rel = f"{d}/clip-{i:06d}.wav"
        n_frames = int(next(seconds) * 16000)
        payload = wav_bytes(pool.frames(n_frames, 1), 16000)
        _write(os.path.join(input_dir, rel), payload)
        sizes[rel] = len(payload)
        files[rel] = (n_frames, 16000)

    levels = _assign_levels(rng, sorted(files), [0.40, 0.25, 0.15, 0.20])
    metadata_file = os.path.join(root, "metadata.jsonl")
    rows = []
    truth = {}
    for rel, (n_frames, sr) in files.items():
        level = levels[rel]
        text = f"clip {rel} via {level}"
        if level != MISS:
            first = {**_meta_row(rel, level), "transcription": text,
                     "match": level, "verified": bool(rng.random() < 0.5),
                     "snr": round(float(rng.uniform(0, 40)), 3),
                     "tags": ["clip", level], "scores": [0.5, 0.25]}
            rows.append((0, first))
            if rng.random() < 0.1:  # a later duplicate key: first wins
                rows.append((1, {**first, "transcription": "dup loses",
                                 "match": "duplicate"}))
            if level == "relative_path" and rng.random() < 0.1:
                rows.append((1, {**_meta_row(rel, "file_name"),
                                 "transcription": "lower level loses",
                                 "match": "lower_level"}))
        truth[rel] = Expected(
            n_frames / sr, sr, level,
            text if level != MISS else TRANSCRIPTION_DEFAULT,
        )
    # Originals first (shuffled), then the rows that must lose.
    order = sorted(range(len(rows)),
                   key=lambda k: (rows[k][0], float(rng.random())))
    with open(metadata_file, "w") as f:
        for k in order:
            row = {c: v for c, v in rows[k][1].items() if v != ""}
            f.write(json.dumps(row) + "\n")
    return Corpus(input_dir, metadata_file, truth, sizes, n_rejected,
                  levels=_count(levels))


def _count(levels: dict[str, str]) -> dict[str, int]:
    out = {k: 0 for k in (*LEVELS, MISS)}
    for level in levels.values():
        out[level] += 1
    return out
