"""Tests of the seeded input generators: same seed, same inputs; the
truth they return agrees with the files they write.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import corpus  # noqa: E402
import tables  # noqa: E402
from audios_to_dataset_spark.functions.wav import \
    parse_wav_header  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for base, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            with open(os.path.join(base, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def test_same_seed_same_corpus(tmp_path):
    a = corpus.clips_corpus(str(tmp_path / "a"), 7, 200)
    b = corpus.clips_corpus(str(tmp_path / "b"), 7, 200)
    c = corpus.clips_corpus(str(tmp_path / "c"), 8, 200)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a.truth == b.truth
    # the seed moves which file gets what, not the totals
    assert a.input_bytes == c.input_bytes and a.levels == c.levels


def test_speech_truth_matches_the_files(tmp_path):
    c = corpus.speech_corpus(str(tmp_path), 3, 120)
    assert len(c.truth) == 120
    assert c.levels == {"relative_path": 60, "file_name": 30,
                        "file_name_as_path": 6, "miss": 24}
    rates = set()
    for rel, exp in c.truth.items():
        with open(os.path.join(c.input_dir, rel), "rb") as f:
            data = f.read()
        assert len(data) == c.sizes[rel]
        assert parse_wav_header(data) == (exp.duration, exp.sampling_rate)
        rates.add(exp.sampling_rate)
    assert rates == {16000, 44100}
    assert not c.metadata_file.startswith(c.input_dir + os.sep)


def test_clips_metadata_keys_each_level(tmp_path):
    c = corpus.clips_corpus(str(tmp_path), 5, 300)
    assert c.n_rejected == 6
    with open(c.metadata_file) as f:
        rows = [json.loads(line) for line in f]
    first = {}
    for r in rows:
        key = r.get("relative_path") or r["file_name"]
        first.setdefault(key, r)
    for rel, exp in c.truth.items():
        key = {"relative_path": rel,
               "file_name": os.path.basename(rel),
               "file_name_as_path": rel}.get(exp.level)
        if key is None:
            continue
        assert first[key]["transcription"] == exp.transcription
        assert isinstance(first[key]["verified"], bool)


def test_same_seed_same_tables(tmp_path):
    rows = tables.write_tables(str(tmp_path / "a"), 11)
    tables.write_tables(str(tmp_path / "b"), 11)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert set(rows) == set(tables.TABLES) and min(rows.values()) > 0
