"""Metadata loader edge cases (reference semantics from src/main.rs):
corrupt JSONL lines skipped, empty cells → NULL, reserved keys dropped,
keyless rows still widen the schema, native sharded sink."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from audios_to_dataset_spark.schema import RESERVED_KEYS
from audios_to_dataset_spark.sources.metadata import (
    first_wins,
    load_csv_metadata,
    load_jsonl_metadata,
    metadata_format_from_path,
)


def test_format_dispatch():
    # src/main.rs:261-284
    assert metadata_format_from_path("/a/b.jsonl") == "jsonl"
    assert metadata_format_from_path("/a/b.JSON") == "jsonl"
    assert metadata_format_from_path("/a/b.csv") == "csv"
    assert metadata_format_from_path("/a/b.txt") == "csv"
    assert metadata_format_from_path("/a/b") == "csv"
    # compressed variants dispatch on the inner extension
    assert metadata_format_from_path("/a/b.jsonl.gz") == "jsonl"
    assert metadata_format_from_path("/a/b.JSON.GZ") == "jsonl"
    assert metadata_format_from_path("/a/b.jsonl.bz2") == "jsonl"
    assert metadata_format_from_path("/a/b.csv.gz") == "csv"
    assert metadata_format_from_path("/a/b.gz") == "csv"


def test_gzipped_metadata_roundtrip(spark, tmp_path):
    """Spark's csv/json readers decompress .gz transparently; the loader
    must produce identical rows for compressed and plain files."""
    import gzip

    rows = [
        {"file_name": "a.wav", "transcription": "hello"},
        {"file_name": "b.wav", "transcription": "world"},
    ]
    jl = "\n".join(json.dumps(r) for r in rows) + "\n"
    (tmp_path / "m.jsonl").write_text(jl)
    with gzip.open(tmp_path / "m.jsonl.gz", "wt") as f:
        f.write(jl)
    csv = "file_name,transcription\na.wav,hello\nb.wav,world\n"
    (tmp_path / "m.csv").write_text(csv)
    with gzip.open(tmp_path / "m.csv.gz", "wt") as f:
        f.write(csv)

    from audios_to_dataset_spark.sources.metadata import load_metadata

    def rowset(path):
        return {
            (r.file_name, r.transcription)
            for r in load_metadata(spark, str(path)).collect()
        }

    plain_jl = rowset(tmp_path / "m.jsonl")
    assert rowset(tmp_path / "m.jsonl.gz") == plain_jl
    plain_csv = rowset(tmp_path / "m.csv")
    assert rowset(tmp_path / "m.csv.gz") == plain_csv
    assert plain_jl == plain_csv == {("a.wav", "hello"), ("b.wav", "world")}


def test_jsonl_corrupt_and_blank_lines_skipped(spark, tmp_path):
    # src/main.rs:339-348: blank lines skipped; non-object lines skipped
    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n"
        + json.dumps({"relative_path": "a.wav", "transcription": "ok"})
        + "\n"
        + "not json at all\n"
        + "\n"
    )
    df = load_jsonl_metadata(spark, str(p))
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].transcription == "ok"


def test_reserved_keys_dropped(spark, tmp_path):
    # src/main.rs:245-247, 310, 364
    p = tmp_path / "m.jsonl"
    p.write_text(
        json.dumps(
            {
                "relative_path": "a.wav",
                "duration": 99.0,
                "audio": "fake",
                "id": 7,
                "speaker": "x",
            }
        )
        + "\n"
    )
    df = load_jsonl_metadata(spark, str(p))
    assert RESERVED_KEYS.isdisjoint(df.columns)
    assert "speaker" in df.columns
    # transcription injected with its default
    assert df.first().transcription == "-"


def test_csv_empty_cells_null_but_transcription_defaulted(spark, tmp_path):
    # src/main.rs:300-319
    p = tmp_path / "m.csv"
    p.write_text(
        "relative_path,transcription,speaker\n"
        "a.wav,,alice\n"
        "b.wav,hello,\n"
    )
    df = load_csv_metadata(spark, str(p))
    rows = {r.relative_path: r for r in df.collect()}
    assert rows["a.wav"].transcription == "-"  # empty cell → default
    assert rows["a.wav"].speaker == "alice"
    assert rows["b.wav"].speaker is None  # empty cell → NULL


def test_first_wins_order(spark, tmp_path):
    p = tmp_path / "m.csv"
    p.write_text(
        "file_name,transcription\n"
        "x.wav,first\n"
        "x.wav,second\n"
        "y.wav,only\n"
    )
    df = load_csv_metadata(spark, str(p))
    kept = {r.file_name: r.transcription for r in
            first_wins(df, "file_name").collect()}
    assert kept == {"x.wav": "first", "y.wav": "only"}


def test_jsonl_number_types_widen_to_double(spark, tmp_path):
    # src/main.rs:215 — JSON integers are Float64
    p = tmp_path / "m.jsonl"
    p.write_text(
        json.dumps({"relative_path": "a.wav", "n": 3}) + "\n"
        + json.dumps({"relative_path": "b.wav", "n": 2.5}) + "\n"
    )
    df = load_jsonl_metadata(spark, str(p))
    assert dict(df.dtypes)["n"] == "double"
    got = {r.relative_path: r.n for r in df.collect()}
    assert got == {"a.wav": 3.0, "b.wav": 2.5}


@pytest.mark.parametrize("output_format", ["parquet", "duckdb"])
@pytest.mark.parametrize("key", ["length", "sampling_rate"])
def test_metadata_key_colliding_with_engine_column_rejected(
    spark, tmp_path, key, output_format
):
    """A metadata key named like an engine column can neither be told
    apart from it nor written next to it: unchecked, ``length`` would
    vanish from the output silently and ``sampling_rate`` would make the
    sink's select ambiguous. The join rejects such keys by name before
    any output."""
    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import run_pipeline

    d = tmp_path / "audio"
    d.mkdir()
    (d / "a.wav").write_bytes(synth_wav(8000))
    meta = tmp_path / "m.jsonl"
    meta.write_text(
        json.dumps({"relative_path": "a.wav", key: 7, "speaker": "x"})
        + "\n"
    )
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=f"'{key}'"):
        run_pipeline(
            spark, str(d), str(out), metadata_file=str(meta),
            output_format=output_format,
        )
    assert not out.exists()


def test_native_sharded_sink(spark, tmp_path):
    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import build_dataset
    from audios_to_dataset_spark.sinks.parquet_shards import (
        write_native_sharded,
    )

    d = tmp_path / "audio"
    d.mkdir()
    for i in range(4):
        (d / f"f{i}.wav").write_bytes(synth_wav(8000))
    sharded = build_dataset(spark, str(d), files_per_shard=2)
    out = str(tmp_path / "native")
    write_native_sharded(sharded, out)
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert set(back.select("shard").distinct().toPandas()["shard"]) == {0, 1}
    row = back.filter(F.col("audio.path") == "f0.wav").first()
    assert row.duration == 1.0
    assert bytes(row.audio.bytes) == synth_wav(8000)


def test_native_sharded_sink_orc(spark, tmp_path):
    """ORC variant of the native sharded sink: identical rows and schema
    back through spark.read.orc (engine extension — the reference is
    parquet/duckdb-only; ORC ships in Spark natively)."""
    from audios_to_dataset_spark.functions.wav import synth_wav
    from audios_to_dataset_spark.pipeline import build_dataset
    from audios_to_dataset_spark.sinks.parquet_shards import (
        write_native_sharded,
    )

    d = tmp_path / "audio"
    d.mkdir()
    for i in range(4):
        (d / f"f{i}.wav").write_bytes(synth_wav(8000))
    sharded = build_dataset(spark, str(d), files_per_shard=2)
    out = str(tmp_path / "native_orc")
    write_native_sharded(sharded, out, compression="zstd", file_format="orc")
    back = spark.read.orc(out)
    assert back.count() == 4
    assert set(back.select("shard").distinct().toPandas()["shard"]) == {0, 1}
    row = back.filter(F.col("audio.path") == "f2.wav").first()
    assert row.duration == 1.0
    assert bytes(row.audio.bytes) == synth_wav(8000)
    # round-trip parity with the parquet variant
    pq_out = str(tmp_path / "native_pq")
    write_native_sharded(sharded, pq_out)
    pq_rows = {
        (r.audio.path, r.shard, bytes(r.audio.bytes))
        for r in spark.read.parquet(pq_out).collect()
    }
    orc_rows = {
        (r.audio.path, r.shard, bytes(r.audio.bytes))
        for r in back.collect()
    }
    assert pq_rows == orc_rows
