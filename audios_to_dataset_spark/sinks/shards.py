"""What every shard sink shares (S9/S11/S12): the metadata column rule,
the per-shard fan-out, the atomic commit and the write receipt.

A format projects its rows JVM-side (its own ``audio`` struct field
order, its own metadata encoding) and hands :func:`write_shards` a
``write_file(tmp_path, table)`` callback. ``groupBy("shard")
.applyInArrow`` gives each shard to one task as one Arrow table, straight
from Spark's Arrow stream with no pandas hop; the task owns its shard
file exclusively (the reference's connection-per-shard model), so the
fan-out is fully distributed with no driver materialization.
"""

from __future__ import annotations

import os
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Engine columns (scan, WAV decode, sharding) that never become metadata
# columns of a shard. lookup_join rejects metadata keys that collide
# with any of them, so everything else on a sharded frame is metadata.
NON_METADATA = frozenset({
    "path", "relative_path", "file_name", "content", "length",
    "modificationTime", "duration", "sampling_rate", "shard",
    "row_in_shard",
})

RECEIPT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("out_path", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_duration", T.DoubleType()),
        T.StructField("min_duration", T.DoubleType()),
        T.StructField("max_duration", T.DoubleType()),
    ]
)


def metadata_fields(df: DataFrame) -> list[tuple[str, T.DataType]]:
    """Metadata ``(name, type)`` pairs in lexicographic order — the
    reference's BTreeSet iteration order (src/main.rs:148, 478)."""
    return sorted(
        (f.name, f.dataType)
        for f in df.schema.fields
        if f.name not in NON_METADATA
    )


def atomic_write(out_path: str, write: Callable[[str], None]) -> None:
    """S12 idempotent shard replace, made ATOMIC: ``write`` builds the
    file at ``<name>.tmp``, which is then ``os.replace``d into place — a
    reader of a live output dir never observes a torn shard, a failed
    write leaves the previous shard intact, and a task retry just
    re-replaces. A stale ``.tmp`` from a killed worker is removed first
    (DuckDB would otherwise open it as an existing database)."""
    tmp_path = out_path + ".tmp"
    try:
        if os.path.exists(tmp_path):
            os.remove(tmp_path)
        write(tmp_path)
        os.replace(tmp_path, out_path)
    finally:
        if os.path.exists(tmp_path):
            os.remove(tmp_path)


def write_shards(
    rows: DataFrame,
    output_dir: str,
    ext: str,
    write_file: Callable[[str, pa.Table], None],
) -> DataFrame:
    """Write one ``<shard>.<ext>`` per shard; returns a DataFrame of
    :data:`RECEIPT_SCHEMA` write receipts, one row per shard.

    ``rows`` carries ``shard``, ``row_in_shard`` and ``duration`` plus
    whatever the format writes; ``write_file`` receives the shard's rows
    in ``row_in_shard`` order."""
    os.makedirs(output_dir, exist_ok=True)
    receipt_schema = to_arrow_schema(RECEIPT_SCHEMA)

    def per_shard(table: pa.Table) -> pa.Table:
        table = table.sort_by("row_in_shard")
        shard = table["shard"][0].as_py()
        out_path = os.path.join(output_dir, f"{shard}.{ext}")
        atomic_write(out_path, lambda tmp_path: write_file(tmp_path, table))
        duration = pc.fill_null(table["duration"], 0.0)
        lo_hi = pc.min_max(table["duration"])
        return pa.Table.from_pylist(
            [{
                "shard": shard,
                "n_rows": table.num_rows,
                "out_path": out_path,
                "n_bytes": os.path.getsize(out_path),
                # numpy's pairwise sum, not pc.sum: the two differ in the
                # last bit, and existing manifests hold numpy's figure
                "sum_duration": float(duration.to_numpy().sum()),
                "min_duration": lo_hi["min"].as_py(),
                "max_duration": lo_hi["max"].as_py(),
            }],
            schema=receipt_schema,
        )

    return rows.groupBy("shard").applyInArrow(per_shard, RECEIPT_SCHEMA)
