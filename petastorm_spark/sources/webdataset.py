"""WebDataset tar-shard sink and source: the sequential-read shard
format multimodal training loaders consume (one tar per shard, one
file per sample per column — ``{key}.{ext}`` entries, samples grouped
by key). The petastorm-side twin is the parquet dataset the rest of
the engine reads; this sink exists for handing curated corpora to
tar-streaming dataloaders without an export hop.

Spark-first shape: the caller decides sharding with an integer shard
column (``operators.layout.shard_plan`` produces balanced ones), the
writer repartitions BY that column so each task owns whole shards and
streams one tar per shard — no driver collect, no cross-task
coordination, output parallelism = number of shards. Binary columns
land as raw payload files; everything else is encoded as JSON in a
single ``{key}.json`` entry per sample (the WebDataset convention).

Determinism: entries are written sample-by-sample in ascending key
order with zeroed tar timestamps, so a shard's bytes are a pure
function of its rows — re-runs produce identical tars (byte-stable
artifacts diff cleanly across pipeline versions).

Filesystem contract: both ends resolve paths through pyarrow
filesystems (``reader._resolve_fs`` — the same routing the reader and
the persistent-index writers use), so ``out_dir``/``in_dir`` may be a local path, ``s3://``,
or anything pyarrow can mount. A PLAIN LOCAL PATH on a multi-node
cluster must be a SHARED mount (NFS/FUSE): each executor writes the
shards it owns, and a non-shared local path would scatter tars across
executor-local disks. Writes are atomic-rename: each shard lands at
``{name}.tar.inprogress-{taskAttemptId}`` and is moved to its final
name only when complete, so a retried/speculative task never exposes a
truncated tar to concurrent readers (on object stores the "move" is
copy+delete — still safe, because the final key only appears after a
complete copy).
"""

from __future__ import annotations

import io
import json
import os
import tarfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType


# Hadoop connector scheme -> the name pyarrow's FileSystem.from_uri
# knows the same store by (s3a/s3n are the Hadoop S3 clients; the
# bucket/path layout is identical).
_HADOOP_SCHEME_MAP = {"s3a": "s3", "s3n": "s3"}


def _translate_scheme(url: str) -> str:
    from urllib.parse import urlparse

    scheme = urlparse(url).scheme
    if scheme in _HADOOP_SCHEME_MAP:
        return _HADOOP_SCHEME_MAP[scheme] + url[len(scheme):]
    return url


def _wds_fs(url: str):
    """pyarrow (FileSystem, path) for a shard directory or tar URL,
    with a named error instead of an unpackable None. Hadoop-only
    scheme names pyarrow knows the store by another name (s3a -> s3)
    are translated first."""
    from petastorm_spark.reader import _resolve_fs

    pair = _resolve_fs(_translate_scheme(url))
    if pair is None:
        raise ValueError(
            f"cannot resolve a filesystem for WebDataset URL {url!r}: "
            "pyarrow FileSystem.from_uri failed (unknown scheme or "
            "missing filesystem driver)"
        )
    return pair


def _tar_add(tar: tarfile.TarFile, name: str, payload: bytes) -> None:
    info = tarfile.TarInfo(name=name)
    info.size = len(payload)
    info.mtime = 0  # byte-stable shards
    tar.addfile(info, io.BytesIO(payload))


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    key_col: str,
    shard_col: str = "shard",
    prefix: str = "shard",
) -> int:
    """Write one ``{prefix}-{shard:06d}.tar`` per distinct value of
    ``shard_col``. Binary columns become ``{key}.{column}`` entries;
    all other columns are gathered into one ``{key}.json`` entry.
    Returns the number of shards written.

    Scale: one hash repartition on the shard column, then each task
    streams its shards' tars sequentially — memory is one sample at a
    time, IO is append-only, and shard count bounds parallelism
    exactly the way a 1000-executor export wants. Keys sort within a
    shard so output bytes are run-independent. Each tar is written to
    a task-attempt-suffixed temp name and atomically renamed on
    completion (see the module docstring for the shared-filesystem /
    object-store contract)."""
    fs, root = _wds_fs(out_dir)
    fs.create_dir(root, recursive=True)
    bin_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, BinaryType) and f.name != key_col
    ]
    meta_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in bin_cols and f.name not in (key_col, shard_col)
    ]
    cols = [key_col, shard_col, *bin_cols, *meta_cols]

    def write_shards(rows) -> Iterator[tuple[int]]:
        from pyspark import TaskContext

        fs, root = _wds_fs(out_dir)  # executors resolve their own handle
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        by_shard: dict[int, list] = {}
        for r in rows:
            by_shard.setdefault(r[shard_col], []).append(r)
        for shard, samples in by_shard.items():
            final = root.rstrip("/") + f"/{prefix}-{int(shard):06d}.tar"
            tmp = f"{final}.inprogress-{attempt}"
            with fs.open_output_stream(tmp) as out_f:
                with tarfile.open(fileobj=out_f, mode="w") as tar:
                    for r in sorted(samples, key=lambda x: x[key_col]):
                        key = str(r[key_col])
                        for c in bin_cols:
                            if r[c] is not None:
                                _tar_add(tar, f"{key}.{c}", bytes(r[c]))
                        meta = {c: r[c] for c in meta_cols}
                        payload = json.dumps(
                            meta, sort_keys=True, default=str
                        ).encode()
                        _tar_add(tar, f"{key}.json", payload)
            fs.move(tmp, final)
            yield (1,)

    written = (
        df.select(*cols)
        .repartition(shard_col)
        .rdd.mapPartitions(write_shards)
        .count()
    )
    return int(written)


def _iter_tar_chunks(url: str, chunk_bytes: int):
    """Stream one tar's entries as pandas chunks of (key, column,
    payload) rows, flushing whenever accumulated payload bytes reach
    ``chunk_bytes`` — task memory is bounded by the chunk size plus
    one entry, never by the shard size (1 GB shards at the standard
    WebDataset sizing would otherwise pin ~2 GB per task: the tar
    bytes AND every extracted payload). The tar itself is opened as a
    non-seekable stream (``r|*``) straight off the filesystem, so the
    container bytes are never materialized either. Non-regular members
    (directories, symlinks — legal in foreign-written shards) are
    skipped: ``extractfile`` returns None for them."""
    fs, path = _wds_fs(url)
    with fs.open_input_stream(path) as f:
        yield from _iter_tar_entries(f, chunk_bytes)


def _iter_tar_entries(fileobj, chunk_bytes: int):
    """The shared chunking loop over an already-open tar byte stream."""
    import pandas as pd

    out = {"key": [], "column": [], "payload": []}
    size = 0
    with tarfile.open(fileobj=fileobj, mode="r|*") as tar:
        for m in tar:
            if not m.isfile():
                continue
            key, _, col = m.name.rpartition(".")
            payload = tar.extractfile(m).read()
            out["key"].append(key)
            out["column"].append(col)
            out["payload"].append(payload)
            size += len(payload)
            if size >= chunk_bytes:
                yield pd.DataFrame(out)
                out = {"key": [], "column": [], "payload": []}
                size = 0
    if out["key"]:
        yield pd.DataFrame(out)


def read_webdataset(
    spark: SparkSession,
    in_dir: str,
    prefix: str = "shard",
    chunk_bytes: int = 64 << 20,
) -> DataFrame:
    """Read WebDataset shards back into (key, column, payload) rows —
    one row per tar entry, distributed one task per shard. Only the
    shard PATHS flow through the binaryFile source (column pruning
    keeps the tar bytes out of Spark rows); each task streams its tar
    off the filesystem and yields ``chunk_bytes``-sized Arrow batches
    (:func:`_iter_tar_chunks`), so task memory is independent of shard
    size. URLs Spark's Hadoop connectors read but pyarrow cannot
    resolve (abfss://, wasbs://, ...) fall back to extracting from the
    binaryFile ``content`` column — correct everywhere Spark can read,
    at the cost of materializing one shard per task in memory (s3a/s3n
    are translated to pyarrow's s3 and stay on the streaming path).
    Regroup with :func:`webdataset_to_frame` when a wide frame is
    wanted; the long shape is the streaming-friendly one."""
    from petastorm_spark.reader import _resolve_fs

    tars = spark.read.format("binaryFile").load(
        os.path.join(in_dir, f"{prefix}-*.tar")
    )
    out_schema = "key string, column string, payload binary"
    if _resolve_fs(_translate_scheme(in_dir)) is None:

        def explode_content(rows):
            for pdf in rows:
                for content in pdf["content"]:
                    yield from _iter_tar_entries(
                        io.BytesIO(bytes(content)), chunk_bytes
                    )

        return tars.select("content").mapInPandas(explode_content, out_schema)

    def explode_tar(rows):
        for pdf in rows:
            for url in pdf["path"]:
                yield from _iter_tar_chunks(url, chunk_bytes)

    return tars.select("path").mapInPandas(explode_tar, out_schema)


def webdataset_to_frame(long_df: DataFrame) -> DataFrame:
    """Pivot the (key, column, payload) long shape back into one row
    per sample with a binary column per entry extension — the inverse
    of write_webdataset's layout for consumers that want a frame
    instead of a stream. Scale: one groupBy-pivot on the sample key;
    column set is the (small, fixed) extension vocabulary."""
    cols = [
        r.column
        for r in long_df.select("column").distinct().collect()
    ]
    return (
        long_df.groupBy("key")
        .pivot("column", sorted(cols))
        .agg(F.first("payload"))
    )
