"""Dataset metadata: the one place that reads and writes a dataset's
stored Unischema and per-file row-group counts.

Parity surface: petastorm/etl/dataset_metadata.py:52-132 (context
manager), :160-178 (row-group size), :194-241 (stored schema +
row-group counts), :410-418 (one schema source for every reader and
tool). By design the metadata is versioned JSON in
``_petastorm_spark_metadata.json`` (the reference flags its own
pickling as a compat trap, :201-202); the counts let the Reader's
iteration tier list its pieces without opening a footer.

One read order, :func:`load_dataset_metadata`, for the Reader and, via
``load_unischema``, every ETL tool: the sidecar through the live JVM's
Hadoop FileSystem (file://, hdfs://, s3a://, gs://); on any error, the
sidecar through pyarrow; then the reference's ``_common_metadata``
footer, so datasets written by original petastorm keep their codecs.

One write set, :func:`write_dataset_metadata`, for
``materialize_dataset``'s exit and the ``generate_metadata`` retrofit:
row-group counts (pyarrow footers; a Spark job over many files), the
sidecar (Hadoop FileSystem) and, with ``petastorm_compat``, the
``_common_metadata`` footer (pyarrow).
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import SparkSession

from petastorm_spark.unischema import Unischema

SIDECAR_NAME = "_petastorm_spark_metadata.json"


def _fs_and_path(spark: SparkSession, url: str):
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(url)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path


def write_sidecar(spark: SparkSession, dataset_url: str, payload: dict) -> None:
    fs, dpath = _fs_and_path(spark, dataset_url)
    jvm = spark.sparkContext._jvm
    spath = jvm.org.apache.hadoop.fs.Path(dpath, SIDECAR_NAME)
    out = fs.create(spath, True)
    try:
        out.write(bytearray(json.dumps(payload, indent=1).encode()))
    finally:
        out.close()


def read_sidecar(spark: SparkSession, dataset_url: str) -> dict | None:
    fs, dpath = _fs_and_path(spark, dataset_url)
    jvm = spark.sparkContext._jvm
    spath = jvm.org.apache.hadoop.fs.Path(dpath, SIDECAR_NAME)
    if not fs.exists(spath):
        return None
    stream = fs.open(spath)
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode())


def _sidecar_via_pyarrow(dataset_url: str) -> dict | None:
    """The sidecar payload read through pyarrow, or None when absent or
    unreachable — the retry after a JVM read fails."""
    import pyarrow.fs as pafs

    from petastorm_spark.reader import _resolve_fs

    pair = _resolve_fs(dataset_url)
    if pair is None:
        return None
    pfs, root = pair
    side = root.rstrip("/") + "/" + SIDECAR_NAME
    if pfs.get_file_info([side])[0].type != pafs.FileType.File:
        return None
    with pfs.open_input_file(side) as fh:
        return json.loads(fh.read().decode())


def load_dataset_metadata(
    spark: SparkSession, dataset_url: str
) -> tuple[Unischema | None, dict | None]:
    """(stored Unischema, {relative file path: row groups}) of ONE
    dataset root from the sidecar, else from the reference's
    ``_common_metadata``, else (None, None). A sidecar failing through
    both the JVM and pyarrow counts as absent: metadata trouble never
    aborts a dataset whose parquet read works."""
    try:
        payload = read_sidecar(spark, dataset_url)
    except Exception:
        try:
            payload = _sidecar_via_pyarrow(dataset_url)
        except Exception:
            payload = None
    if payload is not None:
        return Unischema.from_json(payload["unischema"]), payload.get("row_groups")
    from petastorm_spark.etl.petastorm_compat import load_petastorm_metadata

    return load_petastorm_metadata(dataset_url)


def load_unischema(spark: SparkSession, dataset_url: str) -> Unischema | None:
    return load_dataset_metadata(spark, dataset_url)[0]


def collect_rowgroup_counts(
    spark: SparkSession, dataset_url: str
) -> dict[str, int] | None:
    """{relative file path: num row groups} for the dataset — a
    distributed Spark job over the file list when it is large
    (reference model: petastorm/etl/dataset_metadata.py:208-241), a
    parallel driver-side footer scan when small. None if pyarrow
    cannot reach the filesystem."""
    import os

    from petastorm_spark.reader import (
        _list_parquet_files_fs,
        _parallel_footers,
        _resolve_fs,
    )

    pair = _resolve_fs(dataset_url)
    if pair is None:
        return None
    fs, root = pair
    files = _list_parquet_files_fs(fs, root)
    if not files:
        return {}
    if len(files) > 64:
        def count_fn(batches):
            import pandas as pd
            import pyarrow.parquet as _pq

            for b in batches:
                ns = []
                for p in b["path"]:
                    with fs.open_input_file(p) as fh:
                        ns.append(_pq.ParquetFile(fh).metadata.num_row_groups)
                yield pd.DataFrame({"path": b["path"], "n": ns})

        from petastorm_spark.session import arrow_local_df

        rows = (
            arrow_local_df(spark, {"path": list(files)}, "path string")
            .repartition(min(len(files), 256))
            .mapInPandas(count_fn, "path string, n int")
            .collect()
        )
        counts = {r.path: r.n for r in rows}
    else:
        counts = _parallel_footers(fs, files, lambda p, md: md.num_row_groups)
    rootp = root.rstrip("/")
    return {os.path.relpath(p, rootp): int(n) for p, n in counts.items()}


@contextmanager
def row_group_size_scope(spark: SparkSession, row_group_size_mb: int | None):
    """Parquet writes inside the block use ``row_group_size_mb`` row
    groups: ``parquet.block.size`` is set on the session's Hadoop conf
    and restored on exit, an unset value staying unset. None leaves the
    conf alone."""
    if row_group_size_mb is None:
        yield
        return
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", row_group_size_mb * 1024 * 1024)
    try:
        yield
    finally:
        if old is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old)


def write_dataset_metadata(
    spark: SparkSession,
    dataset_url: str,
    schema: Unischema,
    row_group_size_mb: int | None = None,
    petastorm_compat: bool = True,
) -> None:
    """Store the metadata of a written dataset: its row-group counts, in
    the sidecar and, with ``petastorm_compat``, in the reference's
    ``_common_metadata`` footer."""
    row_groups = collect_rowgroup_counts(spark, dataset_url)
    write_sidecar(
        spark,
        dataset_url,
        {
            "unischema": schema.to_json(),
            "row_group_size_mb": row_group_size_mb,
            "row_groups": row_groups,
        },
    )
    if petastorm_compat:
        from petastorm_spark.etl.petastorm_compat import (
            write_petastorm_compat_metadata,
        )

        write_petastorm_compat_metadata(dataset_url, schema, row_groups)


@contextmanager
def materialize_dataset(
    spark: SparkSession,
    dataset_url: str,
    schema: Unischema,
    row_group_size_mb: int | None = None,
    petastorm_compat: bool = True,
    manifest_part_cols=None,
    manifest_hash_cols=None,
):
    """Wrap a ``df.write.parquet(dataset_url)`` call: sets the parquet
    row-group size for the write and stores the metadata after
    (:func:`write_dataset_metadata`).

        with materialize_dataset(spark, url, schema, 32):
            df.write.mode("overwrite").parquet(url)

    ``petastorm_compat`` (default) also writes the reference's
    ``_common_metadata`` footer so ORIGINAL petastorm readers can
    consume the dataset — mixed-fleet migrations where old trainers read
    new ETL output. Skipped with a warning when a codec has no
    byte-compatible reference equivalent.

    ``manifest_part_cols`` (optional) also writes the partition-digest
    snapshot manifest (``_ps_manifest/`` sidecar,
    :func:`operators.layout.write_dataset_manifest`) keyed by those
    columns — one extra scan at write time so later snapshot diffs
    (:func:`operators.layout.manifest_diff`) never re-scan the data;
    ``manifest_hash_cols`` narrows the digested payload (default: all
    non-key columns). The write-time sibling of the observed-metrics
    contract gate."""
    with row_group_size_scope(spark, row_group_size_mb):
        yield
    write_dataset_metadata(
        spark, dataset_url, schema, row_group_size_mb, petastorm_compat
    )
    if manifest_part_cols is not None:
        from petastorm_spark.operators.layout import write_dataset_manifest

        write_dataset_manifest(
            spark, dataset_url, manifest_part_cols, manifest_hash_cols
        )
