"""On-disk layout of the persisted indexes: the one module that knows
how an index sits under its URL, for all six families (LSH, IVF, kNN
graph, PQ, IVF-PQ, prefix).

An index is a directory of named parquet tables, each optionally
partitioned by one column, plus at most one JSON params file. The
params file is written LAST, so its presence marks a complete index.
Tables are read and written through Spark (Hadoop FileSystem); the
params file goes through pyarrow, resolved by :func:`resolve`.

Appends share one contract: :func:`refuse_stored_ids` refuses a batch
whose ids are already indexed (an id stored twice plants duplicate rows
every later probe re-emits), and :func:`append` materializes the batch
once to count and write it. README "Persisted indexes" lists each
family's tables, partition columns and params file.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petastorm_spark.etl.dataset_metadata import _fs_and_path
from petastorm_spark.session import materialize, release


def table_url(index_url: str, name: str) -> str:
    return index_url.rstrip("/") + "/" + name


def resolve(index_url: str):
    """``(pyarrow FileSystem, path)`` of ``index_url``, raising a usable
    error when no filesystem resolves it (``_resolve_fs`` returns None
    for unknown schemes, which would otherwise surface as an opaque
    'cannot unpack non-iterable NoneType')."""
    from petastorm_spark.reader import _resolve_fs

    pair = _resolve_fs(index_url)
    if pair is None:
        raise ValueError(
            f"cannot resolve a filesystem for index URL {index_url!r}: "
            "pyarrow FileSystem.from_uri failed (unknown scheme or "
            "missing filesystem driver)"
        )
    return pair


def write_table(
    index_url: str,
    name: str,
    df: DataFrame,
    partition_col: str | None = None,
    mode: str = "overwrite",
    dynamic: bool = False,
) -> None:
    """Write one table. ``dynamic=True`` overwrites only the partitions
    present in ``df`` (a per-write option: the session conf is never
    touched, so concurrent writes keep their own mode)."""
    w = df.write.mode(mode)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_col is not None:
        w = w.partitionBy(partition_col)
    w.parquet(table_url(index_url, name))


def write(
    index_url: str,
    tables: list[tuple[str, DataFrame, str | None]],
    params_file: str | None = None,
    params: dict | None = None,
) -> None:
    """Overwrite each ``(name, frame, partition column)`` table, then
    write the params file last."""
    for name, df, partition_col in tables:
        write_table(index_url, name, df, partition_col)
    if params_file is not None:
        fs, path = resolve(index_url)
        with fs.open_output_stream(table_url(path, params_file)) as f:
            f.write(json.dumps(params).encode())


def read_params(index_url: str, params_file: str) -> dict:
    fs, path = resolve(index_url)
    with fs.open_input_file(table_url(path, params_file)) as f:
        return json.loads(f.read().decode())


def read_table(spark: SparkSession, index_url: str, name: str) -> DataFrame:
    return spark.read.parquet(table_url(index_url, name))


def table_exists(spark: SparkSession, index_url: str, name: str) -> bool:
    fs, path = _fs_and_path(spark, table_url(index_url, name))
    return bool(fs.exists(path))


def read_optional_table(
    spark: SparkSession, index_url: str, name: str
) -> DataFrame | None:
    """The table, or None when its directory is absent. A present but
    unreadable table raises: treating it as empty would silently drop
    what it records (for ``tombstones/``, deleted docs matching again)."""
    if not table_exists(spark, index_url, name):
        return None
    return read_table(spark, index_url, name)


def drop_table(spark: SparkSession, index_url: str, name: str) -> None:
    fs, path = _fs_and_path(spark, table_url(index_url, name))
    fs.delete(path, True)


def replace_table(
    spark: SparkSession,
    index_url: str,
    name: str,
    df: DataFrame,
    partition_col: str | None = None,
) -> None:
    """Rewrite a table that ``df`` reads from: write a sibling temp
    table, delete the old one, rename. Not atomic on a plain
    filesystem."""
    tmp = f"_{name}_compact_tmp"
    write_table(index_url, tmp, df, partition_col)
    fs, old = _fs_and_path(spark, table_url(index_url, name))
    _, new = _fs_and_path(spark, table_url(index_url, tmp))
    if not fs.delete(old, True):
        raise IOError(f"failed to delete {table_url(index_url, name)}")
    if not fs.rename(new, old):
        raise IOError(f"failed to rename {table_url(index_url, tmp)}")


def refuse_stored_ids(
    op: str, stored: DataFrame, batch: DataFrame, id_col: str, where: str
) -> None:
    """Raise ValueError if any ``id_col`` of ``batch`` is among the
    ``stored`` ids. One column-pruned scan of the stored ids, semi-joined
    to the batch-sized side, stopping at the first hit."""
    dup = (
        stored.select(id_col)
        .join(F.broadcast(batch.select(id_col)), id_col, "left_semi")
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{op}: id {dup[0][0]!r} is already indexed (it already exists "
            f"in {where}) - appending it again would plant duplicate rows "
            "every later probe re-emits; pass check_ids=False only if ids "
            "are guaranteed fresh"
        )


def append(
    index_url: str, name: str, batch: DataFrame, partition_col: str | None = None
) -> int:
    """Append ``batch`` to a table and return its row count. The batch
    is materialized once, so the count and the write do not each run
    its plan."""
    batch = materialize(batch)
    try:
        n = batch.count()
        write_table(index_url, name, batch, partition_col, mode="append")
    finally:
        release(batch)
    return n
