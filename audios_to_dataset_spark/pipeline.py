"""End-to-end audio→dataset pipeline — the reference's ``main()``
(/root/reference/src/main.rs:615-860) as one declarative DataFrame plan.

Stages (all lazy until the sink action):

  scan_audio_files (S1-S5)                — binaryFile + path filters
    → wav enrichment (P4)                 — pandas UDF header decode
    → load_metadata + widening (S6-S8)    — side table, lattice schema
    → lookup_join (J1-J3)                 — 3-level broadcast fallback
    → assign_shards (W1-W2)               — deterministic buckets
    → parquet / duckdb shard sink (S9-S13)

Catalyst supplies what the reference hand-codes: the path filters push
into the scan, the metadata side broadcasts (its Arc sharing), column
pruning drops unused fields, and the shard tasks fan out like the rayon
``par_bridge`` — but across executors, not threads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.wav import wav_info
from .operators.lookup_join import lookup_join
from .operators.sharding import DEFAULT_FILES_PER_SHARD, assign_shards
from .schema import TRANSCRIPTION, TRANSCRIPTION_DEFAULT
from .sources.binary_scan import DEFAULT_MAX_DEPTH, scan_audio_files
from .sources.metadata import load_metadata


def enrich_files(
    files: DataFrame,
    audio_stats: bool = False,
    sniff_formats: bool = False,
) -> DataFrame:
    """P4+P5: WAV header decode → duration/sampling_rate columns.

    With ``audio_stats=True`` (engine extension, ``--audio-stats``) a
    second Arrow batch adds signal QA columns (rms, peak, clipped_frac
    — numpy-vectorized over the PCM payload) for silence/clipping
    screens; extras are doubles per the sink metadata lattice.

    With ``sniff_formats=True`` (engine extension, ``--sniff-formats``)
    an ``audio_format`` string column tags each file's container
    (wav/flac/ogg/opus/mp3, NULL if unknown) from header bytes only —
    see functions/audio_formats.py."""
    info = wav_info(F.col("content"))
    out = files.withColumn("_wav", info).select(
        "*",
        F.col("_wav.duration").alias("duration"),
        F.col("_wav.sampling_rate").alias("sampling_rate"),
    ).drop("_wav")
    if audio_stats:
        from .functions.wav import wav_stats

        st = wav_stats(F.col("content"))
        out = out.withColumn("_st", st).select(
            "*",
            F.col("_st.rms").alias("rms"),
            F.col("_st.peak").alias("peak"),
            F.col("_st.clipped_frac").alias("clipped_frac"),
        ).drop("_st")
    if sniff_formats:
        from .functions.audio_formats import audio_info

        out = out.withColumn(
            "audio_format", audio_info(F.col("content"))["format"]
        )
    return out


def segment_files(files: DataFrame, seg_seconds: float) -> DataFrame:
    """Engine extension (no reference analog): explode each WAV row into
    fixed-duration standalone segments before enrichment — the clip
    normalization pass for training corpora.

    One mapInPandas pass carries every non-content column through
    (relative_path / file_name keep keying the metadata join), replaces
    ``content`` with the segment's RIFF bytes, and uniquifies ``path``
    with a ``#segN`` suffix so downstream shard ordering stays
    deterministic. No shuffle; parallel per input partition.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from .functions.wav import segment_wav_bytes

    base = [f for f in files.schema.fields if f.name != "content"]
    names = [f.name for f in base]
    schema = T.StructType(
        base
        + [
            T.StructField("seg_index", T.IntegerType(), False),
            T.StructField("seg_start", T.DoubleType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.to_dict("records"):
                for idx, st, _dur, sb in segment_wav_bytes(
                    rec["content"], seg_seconds
                ):
                    r = {k: rec[k] for k in names}
                    r["seg_index"] = idx
                    r["seg_start"] = st
                    r["content"] = sb
                    rows.append(r)
            yield pd.DataFrame(
                rows, columns=names + ["seg_index", "seg_start", "content"]
            )

    out = files.mapInPandas(gen, schema)
    return (
        # zero-padded suffix keeps lexicographic order == segment order;
        # relative_path / file_name stay original so the metadata lookup
        # still keys on the source file — sharding orders by this unique
        # path instead (build_dataset passes order_col="path")
        out.withColumn(
            "path",
            F.concat(
                F.col("path"), F.lit("#seg"),
                F.lpad(F.col("seg_index").cast("string"), 4, "0"),
            ),
        )
        # the sink's metadata lattice is String/Bool/Float64/List
        # (src/main.rs:124-130) — carry the segment columns as Float64
        .withColumn("seg_index", F.col("seg_index").cast("double"))
    )


def build_dataset(
    spark: SparkSession,
    input_dir: str,
    metadata_file: str | None = None,
    max_depth: int = DEFAULT_MAX_DEPTH,
    check_mime_type: bool = False,
    files_per_shard: int = DEFAULT_FILES_PER_SHARD,
    segment_seconds: float | None = None,
    audio_stats: bool = False,
    sniff_formats: bool = False,
    exclude_relative_paths: DataFrame | None = None,
    shard_offset: int = 0,
) -> DataFrame:
    """The full logical plan up to (but excluding) the sink.

    ``exclude_relative_paths`` (a 1-column ``relative_path`` frame) is
    anti-joined out right after the scan — before any decode work — so
    an incremental run pays nothing for files already ingested;
    ``shard_offset`` continues shard numbering after existing output.
    """
    files = scan_audio_files(
        spark,
        input_dir,
        max_depth=max_depth,
        metadata_file=metadata_file,
        check_mime_type=check_mime_type,
    )
    if exclude_relative_paths is not None:
        files = files.join(
            exclude_relative_paths.select("relative_path").distinct(),
            "relative_path",
            "left_anti",
        )
    if segment_seconds is not None:
        files = segment_files(files, segment_seconds)
    files = enrich_files(
        files, audio_stats=audio_stats, sniff_formats=sniff_formats
    )

    if metadata_file is not None:
        meta = load_metadata(spark, metadata_file)
        files = lookup_join(files, meta)
    else:
        # No metadata: every record still gets the transcription default
        # (MetadataStore::new → ensure_transcription_key,
        # src/main.rs:152-164).
        files = files.withColumn(
            TRANSCRIPTION, F.lit(TRANSCRIPTION_DEFAULT)
        )

    return assign_shards(
        files,
        files_per_shard,
        order_col="path" if segment_seconds is not None else "relative_path",
        shard_offset=shard_offset,
    )


def _transcode_wav_to_flac(df):
    """Losslessly transcode 16-bit PCM WAV payloads to FLAC at the sink
    boundary (engine extension — the reference stores original bytes
    only, src/main.rs:447-450; FLAC typically halves an audio
    dataset's footprint with bit-exact recovery, proven end-to-end by
    q_audio_transcode and test_transcode_flac_pipeline). Non-PCM16 or
    unparseable payloads pass through untouched (keep-with-fallback);
    transcoded rows get a ``.flac`` path extension (replacing a
    ``.wav``/``.wave`` suffix, appended otherwise) so extension-based
    reader dispatch always sees the real payload format. Channel
    count is carried through (interleaved samples + the fmt chunk's
    channel count into FLAC independent-channel subframes), so plain
    PCM16 WAVs (format tag 1) of 1-8 channels round-trip bit-exactly.
    WAVE_FORMAT_EXTENSIBLE files (tag 0xFFFE, the layout most
    >2-channel WAVs use) are not decoded: they pass through
    untranscoded and keep their ``.wav`` path. One Arrow-batched map
    stage — no shuffle."""
    import re as _re

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from .functions.flac import encode_flac
    from .functions.wav import wav_pcm16_frames

    out_t = T.StructType(
        [
            T.StructField("content", T.BinaryType()),
            T.StructField("relative_path", T.StringType()),
        ]
    )

    @pandas_udf(out_t)
    def _tc(content, path):  # type: ignore[no-untyped-def]
        new_c, new_p = [], []
        for b, p in zip(content, path):
            bb = bytes(b) if b is not None else None
            parsed = wav_pcm16_frames(bb)
            if parsed is None:
                new_c.append(bb)
                new_p.append(p)
                continue
            s, sr, ch = parsed
            new_c.append(encode_flac(s, sr, channels=ch))
            if p is None:
                new_p.append(p)
            elif _re.search(r"\.wave?$", p, flags=_re.IGNORECASE):
                new_p.append(
                    _re.sub(r"\.wave?$", ".flac", p, flags=_re.IGNORECASE)
                )
            else:
                new_p.append(p + ".flac")
        return pd.DataFrame({"content": new_c, "relative_path": new_p})

    t = _tc(F.col("content"), F.col("relative_path"))
    return df.withColumn("_t", t).drop("content", "relative_path").select(
        "*",
        F.col("_t.content").alias("content"),
        F.col("_t.relative_path").alias("relative_path"),
    ).drop("_t")


def run_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    metadata_file: str | None = None,
    output_format: str = "parquet",
    compression: str = "snappy",
    files_per_shard: int = DEFAULT_FILES_PER_SHARD,
    max_depth: int = DEFAULT_MAX_DEPTH,
    check_mime_type: bool = False,
    segment_seconds: float | None = None,
    audio_stats: bool = False,
    sniff_formats: bool = False,
    incremental: bool = False,
    manifest: bool = False,
    transcode_flac: bool = False,
) -> list:
    """Run scan→enrich→join→shard→sink; returns the write receipts.

    ``incremental=True`` (parquet output only): files whose
    relative_path is already present in the output dir are skipped
    before any decode work, and new shards continue numbering after the
    highest ``<idx>.parquet`` on disk. A re-run with no new input files
    writes nothing and leaves existing shards untouched. Trade-off:
    existing shards are never repacked, so a previously underfull last
    shard stays underfull — new files always start a fresh shard
    (append-only semantics; run non-incrementally to repack).
    """
    exclude = None
    shard_offset = 0
    if transcode_flac and incremental:
        # incremental dedup keys on recorded relative paths, which
        # transcoding rewrites to .flac — a re-run would re-ingest
        # every input as "new"; refuse instead of silently duplicating
        raise ValueError("transcode_flac is not supported with incremental")
    if incremental:
        if output_format != "parquet":
            raise ValueError("incremental mode requires parquet output")
        if segment_seconds is not None:
            raise ValueError(
                "incremental mode tracks file-level relative paths;"
                " not supported with segmentation"
            )
        import glob
        import os
        import re as _re

        existing_shards = [
            int(m.group(1))
            for f in glob.glob(os.path.join(output_dir, "*.parquet"))
            if (m := _re.match(r"^(\d+)\.parquet$", os.path.basename(f)))
        ]
        if existing_shards:
            shard_offset = max(existing_shards) + 1
            exclude = (
                spark.read.parquet(output_dir)
                .select(F.col("audio.path").alias("relative_path"))
                .distinct()
            )
    sharded = build_dataset(
        spark,
        input_dir,
        metadata_file=metadata_file,
        max_depth=max_depth,
        check_mime_type=check_mime_type,
        files_per_shard=files_per_shard,
        segment_seconds=segment_seconds,
        audio_stats=audio_stats,
        sniff_formats=sniff_formats,
        exclude_relative_paths=exclude,
        shard_offset=shard_offset,
    )
    if transcode_flac:
        sharded = _transcode_wav_to_flac(sharded)
    if output_format == "parquet":
        from .sinks.parquet_shards import write_parquet_shards

        receipts = write_parquet_shards(
            sharded, output_dir, compression=compression
        )
    elif output_format == "duckdb":
        from .sinks.duckdb_sink import write_duckdb_shards

        receipts = write_duckdb_shards(sharded, output_dir)
    elif output_format == "orc":
        # Engine extension: Spark-native ORC shard layout (no receipts —
        # the native writer owns the commit protocol). Returns per-shard
        # counts read back from the output for a uniform contract.
        from .sinks.parquet_shards import write_native_sharded

        write_native_sharded(
            sharded, output_dir, compression=compression, file_format="orc"
        )
        return (
            spark.read.orc(output_dir)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
    else:
        raise ValueError(
            f"unknown output_format {output_format!r}; parquet|duckdb|orc"
        )
    rows = receipts.collect()
    if manifest:
        if output_format != "parquet":
            raise ValueError("manifest requires parquet output")
        from .sinks.parquet_shards import write_manifest

        if incremental:
            # append-only semantics: merge new receipts over any prior
            # manifest so the record covers ALL shards on disk
            rows_by_shard = {r.shard: r for r in rows}
            prior = _read_manifest_rows(output_dir)
            merged = [
                r for r in prior if r.shard not in rows_by_shard
            ] + rows
            write_manifest(merged, output_dir)
        else:
            write_manifest(rows, output_dir)
    return rows


def _flatten_audio(df: DataFrame, *engine_cols: str) -> DataFrame:
    """A shard dataset's ``audio`` struct + ``duration`` + metadata
    layout back to the flat columns the sinks take; ``engine_cols`` are
    dropped along with the struct."""
    meta = [
        c for c in df.columns
        if c not in ("audio", "duration", *engine_cols)
    ]
    return df.select(
        F.col("audio.path").alias("relative_path"),
        F.col("audio.bytes").alias("content"),
        F.col("audio.sampling_rate").alias("sampling_rate"),
        "duration",
        *meta,
    )


def convert_duckdb_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    files_per_shard: int = DEFAULT_FILES_PER_SHARD,
    compression: str = "snappy",
    manifest: bool = False,
) -> list:
    """Migration path: re-shard a directory of reference-written
    ``<idx>.duckdb`` shards (src/main.rs:797-847 layout) into the HF
    parquet layout — read through the distributed DuckDB source,
    re-assign shards deterministically by audio path (the original
    scan order is not recoverable from the DuckDB layout; path order
    is the same rule the scanner itself uses), write through the
    pyarrow HF-footer sink. List-typed metadata arrives as the JSON
    text the DuckDB sink stored (the reference's own representation)
    and round-trips as strings. Returns the parquet write receipts."""
    from .sinks.parquet_shards import write_manifest, write_parquet_shards
    from .sources.duckdb_source import read_duckdb_shards

    flat = _flatten_audio(read_duckdb_shards(spark, input_dir), "shard", "id")
    sharded = assign_shards(flat, files_per_shard)
    receipts = write_parquet_shards(
        sharded, output_dir, compression=compression
    )
    rows = receipts.collect()
    if manifest:
        write_manifest(rows, output_dir)
    return rows


def convert_parquet_to_duckdb(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    files_per_shard: int = DEFAULT_FILES_PER_SHARD,
) -> list:
    """The reverse migration: re-shard an HF-parquet dataset (ours or
    any with the ``audio`` struct + ``duration`` + metadata layout)
    into the reference's ``<idx>.duckdb`` shard format. Metadata
    columns are everything beyond (audio, duration); arrays become
    their JSON text exactly as the reference stores them."""
    from .sinks.duckdb_sink import write_duckdb_shards

    flat = _flatten_audio(spark.read.parquet(input_dir))
    sharded = assign_shards(flat, files_per_shard)
    return write_duckdb_shards(sharded, output_dir).collect()


def _read_manifest_rows(output_dir: str) -> list:
    """Prior-manifest lines as receipt-shaped rows ([] if none)."""
    import json
    import os
    from types import SimpleNamespace

    from .sinks.parquet_shards import MANIFEST_NAME

    path = os.path.join(output_dir, MANIFEST_NAME)
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            d = json.loads(line)
            out.append(
                SimpleNamespace(
                    shard=d["shard"],
                    out_path=os.path.join(output_dir, d["file"]),
                    n_rows=d["n_rows"],
                    n_bytes=d["n_bytes"],
                    sum_duration=d["sum_duration"],
                    min_duration=d["min_duration"],
                    max_duration=d["max_duration"],
                )
            )
    return out
