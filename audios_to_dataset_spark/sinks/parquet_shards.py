"""Sharded Parquet sink with Hugging Face footer metadata (S9/S10/S12).

Reference behavior (/root/reference/src/main.rs:438-613):

- one file per shard named ``<idx>.parquet`` (:724, README.md:45)
- columns: ``audio STRUCT<bytes BINARY, sampling_rate INT32, path STRING>``
  (field order :465-469), ``duration DOUBLE``, then metadata columns in
  lexicographic order (:478)
- Parquet footer key ``huggingface`` holding
  ``{"info": {"features": {...}}}`` with ``{"_type": "Audio"}`` for audio
  and `datasets`-style Value/Sequence descriptors per column (:582-601)
- row-group size fixed at 256 rows (:607)
- compression mapping with Lzo→Snappy and Lz4→Lz4Raw fallbacks (:571-580)
- pre-existing shard file deleted before write (S12, :732-735)

Spark's native Parquet writer cannot emit custom footer keys or exact
file names (SURVEY.md §7.4 item 1), so the ``audio`` struct is built
JVM-side and each shard's Arrow table goes through one
``pq.write_table`` inside the shared per-shard fan-out and atomic commit
of :mod:`.shards`.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import hf_feature
from .shards import metadata_fields, write_shards

ROW_GROUP_SIZE = 256  # src/main.rs:607

# S10 (src/main.rs:43-53, 571-580): CLI choice → pyarrow codec.
# lzo silently falls back to snappy; lz4 means the raw codec.
COMPRESSION_MAP = {
    "uncompressed": "NONE",
    "none": "NONE",
    "snappy": "SNAPPY",
    "gzip": "GZIP",
    "lzo": "SNAPPY",
    "brotli": "BROTLI",
    "lz4": "LZ4",
    "zstd": "ZSTD",
    "lz4raw": "LZ4",
}

AUDIO_ARROW_TYPE = pa.struct(
    [
        pa.field("bytes", pa.binary()),
        pa.field("sampling_rate", pa.int32()),
        pa.field("path", pa.string()),
    ]
)


def _arrow_type(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return pa.string()


def hf_features_json(meta_fields: list[tuple[str, T.DataType]]) -> str:
    """The ``huggingface`` footer value (src/main.rs:582-601)."""
    features: dict = {"audio": {"_type": "Audio"}}
    features["duration"] = {"dtype": "float64", "_type": "Value"}
    for name, dt in meta_fields:
        features[name] = hf_feature(dt)
    return json.dumps({"info": {"features": features}})


def _hf_audio() -> Column:
    """The ``audio`` struct in the reference's parquet field order
    (bytes/sampling_rate/path, src/main.rs:465-469)."""
    return F.struct(
        F.col("content").alias("bytes"),
        F.col("sampling_rate"),
        F.col("relative_path").alias("path"),
    ).alias("audio")


def write_parquet_shards(
    df: DataFrame,
    output_dir: str,
    compression: str = "snappy",
) -> DataFrame:
    """Write one ``<shard>.parquet`` per shard; returns the
    :data:`.shards.RECEIPT_SCHEMA` write receipts, one row per shard.

    ``df`` must carry: shard, row_in_shard, relative_path, content,
    duration, sampling_rate, and the widened metadata columns (the other
    scan columns are ignored).
    """
    codec = COMPRESSION_MAP.get(compression.lower())
    if codec is None:
        raise ValueError(
            f"unknown compression {compression!r}; "
            f"one of {sorted(COMPRESSION_MAP)}"
        )
    meta_fields = metadata_fields(df)
    meta_names = [n for n, _ in meta_fields]
    arrow_schema = pa.schema(
        [
            pa.field("audio", AUDIO_ARROW_TYPE),
            pa.field("duration", pa.float64()),
        ]
        + [pa.field(n, _arrow_type(dt)) for n, dt in meta_fields],
        metadata={"huggingface": hf_features_json(meta_fields)},
    )

    def write_file(tmp_path: str, table: pa.Table) -> None:
        pq.write_table(
            table.select(arrow_schema.names).cast(arrow_schema),
            tmp_path,
            compression=codec,
            row_group_size=ROW_GROUP_SIZE,
        )

    rows = df.select(
        "shard", "row_in_shard", _hf_audio(), "duration", *meta_names
    )
    return write_shards(rows, output_dir, "parquet", write_file)


MANIFEST_NAME = "_manifest.jsonl"


def write_manifest(receipts: list, output_dir: str) -> str:
    """Write ``_manifest.jsonl`` (one JSON line per shard, shard order)
    plus a ``_SUCCESS`` marker from collected write receipts — the
    dataset-level commit record a downstream job resumes/prunes from
    (which shards exist, row/byte counts, duration range) without
    listing or footer-probing every shard file.

    The leading underscore keeps both files invisible to Hadoop input
    listings, so ``spark.read.parquet(output_dir)`` — including the
    incremental-mode re-scan — still sees only the shard files.
    Driver-side by design: one row per SHARD (not per record), the same
    cardinality as the receipts the caller already collected.
    """
    path = os.path.join(output_dir, MANIFEST_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in sorted(receipts, key=lambda r: r.shard):
            f.write(
                json.dumps(
                    {
                        "shard": r.shard,
                        "file": os.path.basename(r.out_path),
                        "n_rows": r.n_rows,
                        "n_bytes": r.n_bytes,
                        "sum_duration": r.sum_duration,
                        "min_duration": r.min_duration,
                        "max_duration": r.max_duration,
                    }
                )
                + "\n"
            )
    os.replace(tmp, path)  # atomic: readers never see a torn manifest
    with open(os.path.join(output_dir, "_SUCCESS"), "w"):
        pass
    return path


def read_pruned(
    spark,
    output_dir: str,
    min_duration: float | None = None,
    max_duration: float | None = None,
):
    """Manifest-driven shard pruning — the read-side payoff of
    ``write_manifest``: select only the shard files whose
    [min_duration, max_duration] zone overlaps the requested range,
    then hand THAT file list to the parquet reader. At 100 TB this is
    the difference between listing+footer-probing every shard and an
    O(manifest) driver-side decision — the same min/max-statistics
    skipping a lakehouse manifest provides (measured by q_zone_map on
    the query side). Returns ``(df, n_selected, n_total)`` so callers
    can assert the prune actually fired; raises ``FileNotFoundError``
    when no manifest exists (fall back to a full read + filter — the
    zones are an optimization, never a correctness gate)."""
    path = os.path.join(output_dir, MANIFEST_NAME)
    with open(path) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    if not entries:
        # zero-entry manifest (zero-shard write): same contract as no
        # manifest at all — caller falls back to a full read + filter
        raise FileNotFoundError(f"manifest at {path} has no entries")
    lo = float("-inf") if min_duration is None else min_duration
    hi = float("inf") if max_duration is None else max_duration
    keep = [
        e for e in entries
        if e["max_duration"] >= lo and e["min_duration"] <= hi
    ]
    files = [os.path.join(output_dir, e["file"]) for e in keep]
    if not files:
        # preserve the shard schema with zero rows: read one file's
        # schema, filter everything out
        any_file = os.path.join(output_dir, entries[0]["file"])
        df = spark.read.parquet(any_file).filter(F.lit(False))
        return df, 0, len(entries)
    return spark.read.parquet(*files), len(keep), len(entries)


def write_native_sharded(
    df: DataFrame,
    output_dir: str,
    compression: str = "snappy",
    file_format: str = "parquet",
) -> None:
    """Scale-path alternative sink: Spark's native writer partitioned by
    shard (``<dir>/shard=<idx>/part-*.<format>``).

    Trades the reference's exact ``<idx>.parquet`` naming, HF footer, and
    256-row groups for the native writer's scalability machinery (job
    commit protocol, task retries, no Python hop). Use the pyarrow sink
    for HF-layout parity; use this when the output feeds Spark again.
    ``file_format`` may be ``parquet`` (default) or ``orc`` — ORC ships
    in Spark natively and reads back with the identical schema, for
    downstream stacks standardized on ORC (engine extension; the
    reference is parquet/duckdb-only).
    """
    if file_format not in ("parquet", "orc"):
        raise ValueError(f"unknown file format {file_format!r}")
    codec = COMPRESSION_MAP.get(compression.lower())
    if codec is None:
        raise ValueError(f"unknown compression {compression!r}")
    out = df.select(
        "shard",
        _hf_audio(),
        "duration",
        *[n for n, _ in metadata_fields(df)],
    )
    codec_name = codec.lower() if codec != "NONE" else "none"
    if file_format == "orc":
        # ORC's codec vocabulary differs from parquet's: no brotli/lz4raw,
        # and uncompressed spells "none". Map what exists, fall back to
        # the ORC default for parquet-only codecs.
        codec_name = {
            "snappy": "snappy", "zstd": "zstd", "none": "none",
            "gzip": "zlib", "lz4": "lz4",
        }.get(codec_name, "snappy")
    (
        out.repartition("shard")
        .sortWithinPartitions("shard")
        .write.mode("overwrite")
        .option("compression", codec_name)
        .partitionBy("shard")
        .format(file_format)
        .save(output_dir)
    )
