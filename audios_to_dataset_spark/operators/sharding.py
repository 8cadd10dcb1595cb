"""Shard assignment (W1/W2): deterministic fixed-size buckets.

Reference semantics (/root/reference/src/main.rs:714-724): files are taken
in scan order, chunked into ``files_per_db`` (default 500) groups, and the
chunk index becomes the output shard name ``<idx>.parquet`` / ``.duckdb``.
Within a DuckDB shard the ``id`` column is the 0-based in-shard row index
(:807-809).

Spark has no stable scan order, so the determinism contract is an explicit
``orderBy(path)`` (SURVEY.md §7.4 item 2): one global-sort exchange, then
``shard = floor(row_number0 / N)`` and ``id = row_number0 % N``.

Scale note: a naive ``row_number().over(Window.orderBy(path))`` on the
full frame funnels every row — audio bytes included — through ONE
partition. Instead the global sort runs on a pruned (path-only)
projection, and the resulting (path → shard, row) mapping joins back to
the fat rows by path: the heavy columns move once, in a hash-partitioned
join, never through a single-task sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_FILES_PER_SHARD = 500  # --files-per-db default, src/main.rs:67-69
SHARD_COLUMNS = frozenset({"shard", "row_in_shard"})  # added by assign_shards


def assign_shards(
    df: DataFrame,
    files_per_shard: int = DEFAULT_FILES_PER_SHARD,
    order_col: str = "relative_path",
    shard_offset: int = 0,
) -> DataFrame:
    """Add ``shard`` (0-based bucket, plus ``shard_offset``) and
    ``row_in_shard`` columns.

    ``order_col`` values must be unique (relative paths from one scan
    are); the shard mapping is computed on just that column.
    ``shard_offset`` lets an incremental run continue numbering after
    the shards already on disk.
    """
    w = Window.orderBy(order_col)
    rn0 = F.row_number().over(w) - 1
    mapping = (
        df.select(order_col)
        .withColumn(
            "shard", F.floor(rn0 / files_per_shard) + F.lit(shard_offset)
        )
        .withColumn("row_in_shard", rn0 % files_per_shard)
    )
    return df.join(mapping, order_col)
