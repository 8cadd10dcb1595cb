"""Sharded DuckDB sink (S11): one ``<idx>.duckdb`` database per shard.

Reference behavior (/root/reference/src/main.rs:388-436, 797-847):

- per shard: open connection → ``CREATE SEQUENCE seq; CREATE TABLE files
  (id INTEGER PRIMARY KEY DEFAULT NEXTVAL('seq'), duration DOUBLE,
  audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB), …)`` —
  note the struct field order path/sampling_rate/bytes differs from the
  Parquet sink's bytes/sampling_rate/path; both are replicated, not
  "fixed" (SURVEY.md §7.4 item 5)
- metadata columns in lexicographic order; Bool→BOOLEAN, Float64→DOUBLE,
  String and List→VARCHAR (lists stored as their JSON text, :406, 835-837)
- ``id`` is the 0-based in-shard row index (:807-809)
- identifier quoting doubles embedded double-quotes (:241-243)
- all inserts in one transaction; one writer per file (never shared)

Spark shape: the ``audio`` struct and the list→JSON text are built
JVM-side; each shard's Arrow table goes, inside the shared per-shard
fan-out and atomic commit of :mod:`.shards`, into one ``INSERT … SELECT``
over DuckDB's Arrow scan, not row-at-a-time statements.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .shards import metadata_fields, write_shards


def sanitize_column_name(name: str) -> str:
    """Identifier escaping parity (src/main.rs:241-243)."""
    return name.replace('"', '""')


def _duck_type(dt: T.DataType) -> str:
    if isinstance(dt, T.BooleanType):
        return "BOOLEAN"
    if isinstance(dt, T.DoubleType):
        return "DOUBLE"
    return "VARCHAR"  # String and List (JSON text)


def build_create_table_sql(
    meta_fields: list[tuple[str, T.DataType]],
) -> str:
    """DDL parity with src/main.rs:388-416."""
    columns = [
        "id INTEGER PRIMARY KEY DEFAULT NEXTVAL('seq')",
        "duration DOUBLE",
        "audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB)",
    ]
    for name, dt in meta_fields:
        columns.append(f'"{sanitize_column_name(name)}" {_duck_type(dt)}')
    return f"CREATE SEQUENCE seq; CREATE TABLE files ({', '.join(columns)});"


def write_duckdb_shards(df: DataFrame, output_dir: str) -> DataFrame:
    """Write one ``<shard>.duckdb`` per shard; returns the
    :data:`.shards.RECEIPT_SCHEMA` write receipts, one row per shard.

    Input contract matches
    :func:`..sinks.parquet_shards.write_parquet_shards`.
    """
    meta_fields = metadata_fields(df)
    ddl = build_create_table_sql(meta_fields)
    meta_sel = "".join(
        f', "{sanitize_column_name(n)}"' for n, _ in meta_fields
    )
    insert = (
        f"INSERT INTO files (id, duration, audio{meta_sel}) "
        f"SELECT row_in_shard, duration, audio{meta_sel} FROM payload"
    )

    def write_file(tmp_path: str, table: pa.Table) -> None:
        import duckdb

        con = duckdb.connect(tmp_path)
        try:
            con.execute(ddl)
            con.register("payload", table)
            con.execute("BEGIN TRANSACTION")
            con.execute(insert)
            con.execute("COMMIT")
        finally:
            con.close()

    audio = F.struct(
        F.col("relative_path").alias("path"),
        F.col("sampling_rate"),
        F.col("content").alias("bytes"),
    ).alias("audio")
    # Lists are stored as JSON text (src/main.rs:835-837).
    meta_cols = [
        (F.to_json(n) if isinstance(dt, T.ArrayType) else F.col(n)).alias(n)
        for n, dt in meta_fields
    ]
    rows = df.select("shard", "row_in_shard", audio, "duration", *meta_cols)
    return write_shards(rows, output_dir, "duckdb", write_file)
