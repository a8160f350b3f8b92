"""Read path: make_reader / make_batch_reader re-expressed Spark-first.

Parity surface: petastorm/reader.py:60-206 (make_reader), :209-352
(make_batch_reader), :355-501 (Reader), sharding :573-597, piece-order
shuffle :666-682, in-piece row shuffle (arrow_reader_worker.py:360-371).

Architecture (two-tier, mirrors how the reference's converter works but
with Spark doing the heavy lifting):

  1. **Plan tier (distributed)** — the dataset is a Spark DataFrame;
     projection (schema view), filters, and any heavy transform run as
     a Catalyst plan with parquet pushdown. Only a JVM-only ``Column``
     filter (or a URL the JVM reaches but pyarrow cannot, or an explicit
     local cache request for a remote store) forces a one-time Spark-side
     materialization; everything else streams.
  2. **Iteration tier (streaming, constant memory)** — the source
     parquet files are iterated **one row group at a time** through a
     pyarrow FileSystem handle (local, s3://, gs://, hdfs:// — the
     reference's fs_utils.py model): seeded piece-order shuffle per
     epoch (D2), shard selection ``index % shard_count == cur_shard``
     (D1), DNF-filter row-group pruning from parquet statistics, then
     per piece the one piece function :func:`_read_piece`, and rows or
     column-vector batches are yielded as namedtuples. Row-group counts
     come from the stored dataset metadata when present, so no footer is
     opened up front.

One URL is a list of one: ``Reader._open`` reads every URL list the
same way — one Spark parquet read (a ``CANNOT_MERGE_SCHEMAS`` refusal
under ``schema_evolution`` retries under the widened union schema), or,
when the JVM has no filesystem for the scheme, a schema from pyarrow
footers. The stored Unischema and row-group counts belong to a single
dataset root and are read only for one URL, through the one metadata
chain of ``etl/dataset_metadata.py`` (sidecar, else the reference's
``_common_metadata``) that every ETL tool shares; the per-URL schema
agreement check runs only for two or more.

Every reader pool runs the same piece function (reference
py_dict_reader_worker.py:124-232, one ``process`` for all pools), which
returns the finished piece: load the row group, recover hive partition
values, apply the DNF row mask, evaluate the predicate on its decoded
columns (P2/P3), decode the survivors (C5), apply the TransformSpec (U1)
and shuffle the rows (D3). The pools differ only in where it runs: the
inline pool ('dummy', or one worker) calls it in the iterating thread,
the thread pool in threads, and the process pool in spawned workers,
which receive the piece spec with its predicate and TransformSpec once,
cloudpickled. Each Reader keeps one executor from its first pooled
iteration to ``close()``, and the thread and process pools share one
bounded prefetch window.

At cluster scale the iteration tier runs on each training worker with
a distinct ``cur_shard`` streaming its shard straight from the store —
exactly the reference's distribution model — while the plan tier is a
normal Spark job sized by the cluster.
"""

from __future__ import annotations

import contextlib
import dataclasses
import itertools
import multiprocessing
import operator
import os
import pickle
import shutil
import tempfile
from collections import deque
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor, wait
from functools import reduce
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark import cloudpickle
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from petastorm_spark._piece_worker import (
    OPS,
    decode_col,
    dnf_mask,
    load_table,
    parse_filters,
    partition_values,
    passes_nan,
    rg_may_match,
)
from petastorm_spark.etl.dataset_metadata import load_dataset_metadata
from petastorm_spark.predicates import PredicateBase
from petastorm_spark.session import get_spark
from petastorm_spark.transform import (
    TransformSpec,
    apply_transform_pandas,
    transform_schema,
)
from petastorm_spark.unischema import Unischema


def _strip_scheme(path: str) -> str:
    parsed = urlparse(path)
    return parsed.path if parsed.scheme else path


def _resolve_fs(url: str) -> tuple[pafs.FileSystem, str] | None:
    """(pyarrow FileSystem, root path) for any URL pyarrow can reach —
    bare paths and file:// map to LocalFileSystem; s3://, gs://,
    hdfs:// go through ``FileSystem.from_uri``. None if the scheme is
    unsupported (caller falls back to Spark-side materialization)."""
    try:
        scheme = urlparse(url).scheme
        if scheme in ("", "file"):
            return pafs.LocalFileSystem(), _strip_scheme(url)
        return pafs.FileSystem.from_uri(url)
    except Exception:
        return None


def _list_parquet_files_fs(fs: pafs.FileSystem, root: str) -> list[str]:
    """Data files under ``root`` on any pyarrow filesystem, skipping
    _metadata/_ps_index/hidden entries at every directory level."""
    info = fs.get_file_info([root])[0]
    if info.type == pafs.FileType.File:
        return [root]
    if info.type != pafs.FileType.Directory:
        raise FileNotFoundError(f"{root} does not exist")
    out = []
    for fi in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        if fi.type != pafs.FileType.File:
            continue
        rel = fi.path[len(root):].lstrip("/")
        parts = rel.split("/")
        if any(p.startswith(("_", ".")) for p in parts):
            continue
        base = parts[-1]
        if base.endswith(".parquet") or base.startswith("part-"):
            out.append(fi.path)
    return sorted(set(out))


def _parallel_footers(fs: pafs.FileSystem, files: list[str], fn, workers: int = 16):
    """Map ``fn(path, parquet_metadata)`` over file footers in parallel
    (the reference stores rowgroup counts to avoid this scan entirely;
    we do the same via the sidecar, and parallelize the fallback
    instead of petastorm's serial driver loop)."""
    def one(path: str):
        with fs.open_input_file(path) as f:
            return path, fn(path, pq.ParquetFile(f).metadata)

    if len(files) <= 1:
        return dict(one(p) for p in files)
    with ThreadPoolExecutor(min(workers, len(files))) as ex:
        return dict(ex.map(one, files))


_WIDEN_CHAINS = (
    ("byte", "short", "integer", "long"),
    ("float", "double"),
)


def _widen_types(t1, t2):
    """The wider of two Spark scalar types when one SAFELY widens to
    the other (integral chain byte->short->int->long; float->double —
    the promotions Spark 4's parquet scan performs per file under an
    explicit requested schema), else None. Anything off the two
    chains — including array element changes and int<->float — is a
    genuine conflict, never merged."""
    if t1 == t2:
        return t1
    a, b = t1.typeName(), t2.typeName()
    for chain in _WIDEN_CHAINS:
        if a in chain and b in chain:
            return t1 if chain.index(a) >= chain.index(b) else t2
    return None


def _widened_union_schema(urls: list[str]):
    """Union schema of every parquet footer under ``urls`` with safe
    type widening: (first-seen column order, each column at its widest
    observed type, everything nullable). Raises ValueError on a
    same-name type pair that is not a safe widening. Driver cost: one
    footer read per file (parallelized, metadata-sized) — only paid
    when Spark's own distributed footer merge refused the dataset, so
    the dataset is KNOWN to contain a type change."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructField, StructType

    merged: dict = {}
    order: list[str] = []
    for u in urls:
        pair = _resolve_fs(u)
        if pair is None:
            raise FileNotFoundError(f"cannot resolve a filesystem for {u!r}")
        pfs, root = pair
        leaves = _list_parquet_files_fs(pfs, root)
        footers = _parallel_footers(
            pfs, leaves, lambda p, md: from_arrow_schema(md.schema.to_arrow_schema())
        )
        for path in leaves:
            for f in footers[path].fields:
                if f.name not in merged:
                    merged[f.name] = f.dataType
                    order.append(f.name)
                    continue
                w = _widen_types(merged[f.name], f.dataType)
                if w is None:
                    raise ValueError(
                        f"column {f.name!r} type "
                        f"{f.dataType.simpleString()} in {path!r} "
                        f"conflicts with {merged[f.name].simpleString()} "
                        "from an earlier file; schema evolution widens "
                        "byte->short->int->long and float->double, "
                        "never converts across kinds"
                    )
                merged[f.name] = w
    return StructType(
        [StructField(n, merged[n], True) for n in order]
    )


def _require_same_schema(urls: list[str], structs: list) -> None:
    """Multi-URL datasets without schema evolution: every URL's schema
    (name -> type, order-insensitive) must equal the first one's."""
    first = {f.name: f.dataType for f in structs[0].fields}
    for u, st in zip(urls[1:], structs[1:]):
        fields = {f.name: f.dataType for f in st.fields}
        if fields != first:
            raise ValueError(
                f"dataset URL {u!r} schema {sorted(fields)} is "
                f"incompatible with {urls[0]!r} ({sorted(first)}); "
                "multi-URL datasets must share one schema"
            )


def _dnf_to_column(clauses) -> Column:
    """The parsed filter as a Spark Column for the plan tier (and
    Catalyst pushdown), built from the op table the iteration tier's row
    mask and row-group pruning use.

    A condition that NaN passes is OR-ed with ``isnan``, which keeps it
    out of Parquet pushdown: Spark prunes row groups from min/max
    statistics, and writers such as pyarrow leave NaN out of those, so
    ``f > 4.0`` alone drops the NaN rows of a group whose max reads 3.0."""

    def cond(c) -> Column:
        col = F.col(c.column)
        test = OPS[c.op].test(col, c.value)
        return F.isnan(col) | test if passes_nan(c) else test

    return reduce(operator.or_, [
        reduce(operator.and_, map(cond, clause), F.lit(True)) for clause in clauses
    ])


# A sentinel is a lease: __iter__ refreshes its mtime, so a sentinel
# older than the TTL belongs to a hung/dead/recycled-pid reader and no
# longer pins the cache dir (r3 ADVICE: pid probes alone are blind to
# readers on OTHER hosts of a shared filesystem and can pin forever
# when the pid is recycled).
_SENTINEL_TTL_SEC = 30 * 60


def _cache_dir_in_use(managed_dir: str) -> bool:
    """True if a live Reader holds a sentinel lease in this managed
    cache subdir. Same-host sentinels need a live pid AND a fresh
    lease; foreign-host sentinels (shared filesystem) are trusted
    while their lease is fresh — their pids are unprobeable here."""
    import socket
    import time

    local_host = socket.gethostname()
    try:
        names = os.listdir(managed_dir)
    except OSError:
        return False
    for n in names:
        if not n.startswith(".ps_inuse_"):
            continue
        try:
            age = time.time() - os.path.getmtime(os.path.join(managed_dir, n))
        except OSError:
            continue  # vanished between listdir and stat
        if age > _SENTINEL_TTL_SEC:
            continue  # expired lease: dead, hung, or recycled pid
        tail = n[len(".ps_inuse_"):]
        pid_s, _, host = tail.partition("@")
        if host and host != local_host:
            return True  # fresh foreign-host lease: trust it
        try:
            os.kill(int(pid_s), 0)  # liveness probe, no signal delivered
            return True
        except (ValueError, ProcessLookupError):
            continue  # malformed or dead: stale sentinel
        except PermissionError:
            return True  # alive but other uid
    return False


def _enforce_cache_limit(cache_dir: str, limit_bytes: int, keep: str) -> None:
    """K2 parity (reference local_disk_cache.py:23-82 size limit):
    evict oldest managed cache subdirs until the total is under the
    limit. The subdir just (re)used is never evicted."""
    import warnings

    entries = []
    for d in os.listdir(cache_dir):
        if not d.startswith("_ps_materialized_"):
            continue
        p = os.path.join(cache_dir, d)
        if not os.path.isdir(p):
            continue
        if _cache_dir_in_use(p):
            continue  # a live Reader (this or another process) iterates here
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, names in os.walk(p)
            for f in names
        )
        entries.append((os.path.getmtime(p), p, size))
    total = sum(e[2] for e in entries)
    for _, p, size in sorted(entries):
        if total <= limit_bytes:
            break
        if os.path.abspath(p) == os.path.abspath(keep):
            continue
        shutil.rmtree(p, ignore_errors=True)
        total -= size
        warnings.warn(
            f"cache_size_limit exceeded: evicted oldest cache entry {p} "
            f"({size} bytes)",
            stacklevel=3,
        )


@dataclasses.dataclass
class _PieceSpec:
    """Everything :func:`_read_piece` needs besides the piece address
    and its RNG. The process pool sends it to each worker once,
    cloudpickled, so predicate and transform closures cross the spawn
    boundary."""

    fs: pafs.FileSystem
    drop_parts: int
    read_columns: list[str]  # view + predicate + DNF columns
    view_columns: list[str]
    dnf: tuple | None  # parse_filters clauses
    missing_ok: bool  # schema evolution: absent columns read as NULL
    schema: Unischema  # the full dataset schema
    predicate: PredicateBase | None
    transform: TransformSpec | None
    shuffle_rows: bool


def _read_piece(
    spec: _PieceSpec, path: str, rg: int, sl: int, rng: np.random.Generator
) -> pd.DataFrame | None:
    """The piece function every reader pool runs (reference
    py_dict_reader_worker.py:124-232, one ``process`` for all pools):
    load one row group (or one strided slice of it), recover hive
    partition values, apply the DNF row mask, evaluate the predicate,
    decode the view columns, apply the TransformSpec (U1) and shuffle
    the rows with ``rng`` (D3). The piece stays an ARROW table until
    each column decodes, so codec payloads reach the codec as zero-copy
    memoryview slices of the arrow data buffer.

    Decode is two-phase (reference py_dict_reader_worker.py:222-232):
    the predicate's columns decode and filter first, then the view's
    other columns decode for the surviving rows only — the predicate
    always sees decoded values. None when no row survives."""
    table = load_table(
        spec.fs, path, rg, sl, spec.drop_parts, spec.read_columns
    )
    parts = partition_values(
        path, spec.read_columns, table.column_names, spec.schema, spec.missing_ok
    )
    fields = spec.schema.fields
    sel = None  # surviving row indices; None = all rows
    if spec.dnf is not None:
        m = dnf_mask(table, parts, spec.dnf)
        if not m.any():
            return None
        sel = np.nonzero(m)[0]
    names = spec.view_columns
    done: dict[str, pd.Series] = {}
    if spec.predicate is not None:
        for name in sorted(spec.predicate.get_fields()):
            done[name] = decode_col(fields.get(name), table, parts, name, sel)
        mask = np.asarray(
            spec.predicate.do_include_pandas(pd.DataFrame(done)), dtype=bool
        )
        if not mask.any():
            return None
        sel = (np.arange(len(table)) if sel is None else sel)[mask]
        done = {
            n: s[mask].reset_index(drop=True)
            for n, s in done.items()
            if n in names
        }
    pdf = pd.DataFrame({
        n: done[n] if n in done else decode_col(fields.get(n), table, parts, n, sel)
        for n in names
    })
    if spec.transform is not None:
        pdf = apply_transform_pandas(pdf, spec.transform)
    if spec.shuffle_rows and len(pdf) > 1:
        pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    return pdf


# A process-pool worker's piece spec, set once by the pool's initializer:
# each worker is a spawned process serving exactly one Reader.
_worker_spec: _PieceSpec | None = None


def _start_worker(blob: bytes) -> None:
    global _worker_spec
    _worker_spec = cloudpickle.loads(blob)


def _worker_read_piece(
    path: str, rg: int, sl: int, rng: np.random.Generator
) -> pd.DataFrame | None:
    return _read_piece(_worker_spec, path, rg, sl, rng)


class Reader:
    """Iterable over a dataset's rows (or column-vector batches).

    Use :func:`make_reader` / :func:`make_batch_reader` instead of
    constructing directly. Context-manager aware; ``close()`` removes
    any materialization cache this reader created.
    """

    def __init__(
        self,
        dataset_url: str | list[str],
        *,
        spark: SparkSession | None = None,
        schema_fields: list | None = None,
        predicate: PredicateBase | None = None,
        transform_spec: TransformSpec | None = None,
        filters=None,
        shuffle_row_groups: bool = False,
        shuffle_rows: bool = False,
        seed: int | None = None,
        cur_shard: int | None = None,
        shard_count: int | None = None,
        num_epochs: int | None = 1,
        batched: bool = False,
        cache_dir: str | None = None,
        rowgroup_selector=None,
        shuffle_row_drop_partitions: int = 1,
        workers_count: int = 4,
        reader_pool_type: str = "thread",
        cache_type: str | None = None,
        cache_location: str | None = None,
        cache_size_limit: int | None = None,
        schema_evolution: bool = False,
        **compat_kwargs,
    ):
        # Drop-in signature compatibility with petastorm's make_reader
        # (petastorm/reader.py:60-206): knobs that are meaningless under
        # the Spark architecture are accepted and warned about, so
        # existing call sites run unchanged.
        _IGNORED = {
            "pyarrow_serialize",
            "results_queue_size",
            "zmq_copy_buffers",
            "hdfs_driver",
            "infer_schema_from_first_row",
            "cache_row_size_estimate",
            "cache_extra_settings",
            "shard_seed",
        }
        unknown = set(compat_kwargs) - _IGNORED
        if unknown:
            raise TypeError(f"unexpected reader arguments: {sorted(unknown)}")
        if compat_kwargs:
            import warnings

            warnings.warn(
                f"ignoring petastorm-compat args with no Spark-side effect: "
                f"{sorted(compat_kwargs)}",
                stacklevel=3,
            )
        if cache_type not in (None, "null", "local-disk"):
            raise ValueError(f"unsupported cache_type {cache_type!r}")
        if cache_type == "local-disk" and cache_dir is None:
            cache_dir = cache_location
        # Multi-URL datasets (reference petastorm/reader.py:51-57,209):
        # a list of file/dir URLs sharing one scheme reads as ONE
        # dataset — piece lists merge, sharding spans all of them.
        # One URL is a list of one.
        if isinstance(dataset_url, (list, tuple)):
            if not dataset_url:
                raise ValueError("dataset url list must be non-empty")
            urls = [str(u) for u in dataset_url]
            schemes = {
                u.split("://", 1)[0] if "://" in u else "file" for u in urls
            }
            if len(schemes) > 1:
                raise ValueError(
                    "all dataset URLs must share one scheme, got "
                    f"{sorted(schemes)}"
                )
        else:
            urls = [dataset_url]
        if (cur_shard is None) != (shard_count is None):
            raise ValueError("cur_shard and shard_count must be set together")
        if shard_count is not None and not 0 <= cur_shard < shard_count:
            raise ValueError(
                f"cur_shard must be in [0, {shard_count}), got {cur_shard}"
            )

        self._spark = spark or get_spark()
        from petastorm_spark.session import ensure_session_confs

        ensure_session_confs(self._spark)
        self._seed = seed
        self._rng = np.random.default_rng(seed)
        # pool parity (petastorm reader_pool_type thread|process|dummy):
        # 'thread' prefetches pieces in threads; 'process' moves the
        # GIL-bound codec decode into spawned worker processes
        # (reference workers_pool/process_pool.py); 'dummy' is
        # synchronous.
        if reader_pool_type not in ("thread", "process", "dummy"):
            raise ValueError(f"unsupported reader_pool_type {reader_pool_type!r}")
        self._pool_type = reader_pool_type
        self._pool = None  # the executor, started by the first pooled iteration
        self._workers = 1 if reader_pool_type == "dummy" else max(1, workers_count)
        self._schema_evolution = bool(schema_evolution)
        self._shuffle_row_groups = shuffle_row_groups
        self._cur_shard = cur_shard
        self._shard_count = shard_count
        self._num_epochs = num_epochs
        self._batched = batched
        # D4 (petastorm/reader.py:654-664): split each row group into k
        # strided slices read as separate pieces — trades extra reads
        # for shuffle decorrelation.
        self._drop_parts = max(1, int(shuffle_row_drop_partitions))
        self._owned_cache: str | None = None
        self._managed_cache: str | None = None
        self._sentinel: str | None = None
        self.last_row_consumed = False

        # ---- plan tier -----------------------------------------------------
        # pyarrow (filesystem, root) per URL, None where pyarrow cannot
        # reach the scheme: the footer fallback and the direct iteration
        # tier use it
        fs_pairs = [_resolve_fs(u) for u in urls]
        stored = self._sidecar_counts = None
        df, struct = self._open(urls, fs_pairs)
        if len(urls) == 1:
            # the sidecar and the petastorm-compat metadata describe ONE
            # dataset root: a merged multi-URL dataset never has them
            # (plain-store path)
            stored, self._sidecar_counts = load_dataset_metadata(
                self._spark, urls[0]
            )

        full_schema = stored or Unischema.from_spark_schema(
            df.schema if df is not None else struct
        )

        # reference behavior: schema_fields may be an NGram spec — the
        # reader then yields {offset: namedtuple} window dicts
        # (petastorm/reader.py:196-200; not supported on the batch path,
        # petastorm/arrow_reader_worker.py:99)
        from petastorm_spark.operators.ngram import NGram

        self._ngram: NGram | None = None
        if isinstance(schema_fields, NGram):
            if batched:
                raise NotImplementedError(
                    "NGram is not supported by make_batch_reader (reference parity)"
                )
            if shuffle_row_drop_partitions > 1:
                raise ValueError(
                    "NGram cannot be combined with shuffle_row_drop_partitions: "
                    "strided slicing changes consecutive-row timestamp deltas "
                    "and would silently drop valid windows"
                )
            self._ngram = schema_fields
            needed = sorted(
                {c for cols in self._ngram.fields.values() for c in cols}
                | {self._ngram.timestamp_field}
            )
            schema_fields = needed

        if schema_fields is not None:
            view = full_schema.create_schema_view(schema_fields)
        else:
            view = full_schema

        # Final (post-transform) schema the consumer sees.
        self.schema = transform_schema(view, transform_spec) if transform_spec else view

        # Columns needed from storage: view + predicate + DNF filter
        # columns. ``filters`` accepts either a Spark Column (plan-tier
        # only) or petastorm/pyarrow-style DNF tuples, which the
        # iteration tier can evaluate itself (stats pruning + row mask)
        # on ANY filesystem without materializing. The filter is parsed
        # here, once: a malformed one fails at construction.
        schema = struct if df is None else df.schema
        types = {f.name: f.dataType for f in schema.fields}
        self._dnf = col_filter = None
        if isinstance(filters, Column):
            # Compile simple comparison Columns to DNF tuples so the
            # direct streaming tier (and rowgroup stats pruning) applies
            # to them too — a filters=Column reader over a 100 TB store
            # must not materialize a filtered copy to driver-local disk.
            # A Column that does not compile, or holds a literal the
            # tiers cannot compare alike, stays JVM-side.
            from petastorm_spark.plans.filter_compile import column_to_dnf

            with contextlib.suppress(ValueError):
                self._dnf = parse_filters(column_to_dnf(filters), types)
            col_filter = filters if self._dnf is None else None
        elif filters is not None:
            self._dnf = parse_filters(filters, types)
        need = list(view.fields)
        if predicate is not None:
            need += [f for f in predicate.get_fields() if f not in need]
        if self._dnf is not None:
            need += sorted({c.column for cl in self._dnf for c in cl} - set(need))

        # Index selection happens on the SOURCE dataset before any
        # materialization — the pruned file list feeds both the Spark
        # plan and the direct iteration path.
        selected_files: set[str] | None = None
        if rowgroup_selector is not None:
            if len(urls) > 1:
                raise ValueError("rowgroup_selector requires a single dataset_url")
            selected_files = {
                _strip_scheme(f)
                for f in rowgroup_selector.select_files(self._spark, urls[0])
            }
            if not selected_files:
                raise ValueError("rowgroup_selector matched no files")
            # basePath keeps hive partition columns alive when reading
            # leaf files directly
            df = (
                self._spark.read.option("basePath", urls[0])
                .parquet(*sorted(selected_files))
            )

        if df is None:
            # JVM-unreachable scheme (see the footer fallback in _open):
            # the direct tier streams via pyarrow; there is no plan-tier
            # DataFrame to filter, so a JVM-only Column filter cannot run
            if col_filter is not None:
                raise ValueError(
                    "filters=<Column> needs the Spark plan tier, but the "
                    "JVM has no filesystem for this URL scheme; pass "
                    "pyarrow-style DNF tuples instead"
                )
            self.dataframe = None
        else:
            plan = df.select(*need) if set(need) != set(df.columns) else df
            if self._dnf is not None:
                plan = plan.filter(_dnf_to_column(self._dnf))
            elif col_filter is not None:
                plan = plan.filter(col_filter)
            self.dataframe = plan

        # Direct-iteration path: stream row groups straight from the
        # source filesystem (local, file://, s3://, gs://, hdfs:// —
        # anything pyarrow's FileSystem.from_uri reaches). Only a
        # JVM-only Column filter, an exotic scheme, or an explicit
        # local cache request for a remote store forces a Spark-side
        # materialization.
        self._fs: pafs.FileSystem = pafs.LocalFileSystem()
        self._direct_root: str | None = None
        if (
            all(p is not None for p in fs_pairs)
            and col_filter is None
            and (cache_dir is None or isinstance(fs_pairs[0][0], pafs.LocalFileSystem))
        ):
            # one scheme -> one fs implementation; roots may be many
            self._fs = fs_pairs[0][0]
            self._direct_root = fs_pairs[0][1]
            files = []
            for _, root in fs_pairs:
                files.extend(_list_parquet_files_fs(self._fs, root))
            if selected_files is not None:
                files = [f for f in files if _strip_scheme(f) in selected_files]
            self._files = files
        elif df is None:
            # plan-tier-less remote reader (JVM-unreachable scheme) that
            # also failed direct-tier eligibility: nothing can serve it
            raise ValueError(
                "the JVM has no filesystem for this URL scheme and the "
                "direct pyarrow tier is unavailable (cache_dir over a "
                "remote store, or an unresolvable URL); drop cache_dir "
                "or use a scheme one of the tiers reaches"
            )
        elif cache_dir is not None:
            # user-managed cache dir: materialize into a managed
            # SUBDIRECTORY (an overwrite-write into the dir itself would
            # wipe unrelated user files), keyed by a STABLE content
            # descriptor — semanticHash() changes across JVM restarts
            # (verified empirically), which would defeat cross-run
            # reuse and grow the cache unboundedly. Descriptor: source
            # url + projected columns + filter text.
            import hashlib

            desc = "|".join(["|".join(urls), ",".join(sorted(need)), str(filters)])
            key = hashlib.sha256(desc.encode()).hexdigest()[:12]
            managed = os.path.join(cache_dir, f"_ps_materialized_{key}")
            local = pafs.LocalFileSystem()
            existing = (
                _list_parquet_files_fs(local, managed)
                if os.path.isdir(managed)
                else []
            )
            if not existing:
                plan.write.mode("overwrite").parquet(managed)
                existing = _list_parquet_files_fs(local, managed)
            else:
                os.utime(managed)  # refresh LRU rank on reuse
            # pin against concurrent eviction while this Reader is alive
            self._managed_cache = managed
            import socket

            self._sentinel = os.path.join(
                managed, f".ps_inuse_{os.getpid()}@{socket.gethostname()}"
            )
            with open(self._sentinel, "w"):
                pass
            if cache_size_limit is not None:
                _enforce_cache_limit(cache_dir, cache_size_limit, keep=managed)
            self._files = existing
        else:
            if col_filter is not None:
                # Residual JVM-only Column filter over a URL-addressed
                # store: a silent driver-local tempdir write would not
                # survive cluster mode (executors write where only the
                # driver iterates) and copies the filtered scan to one
                # machine's disk. Demand an explicit durable location.
                raise ValueError(
                    "filters=<Column> could not be compiled to DNF for "
                    "direct streaming (only comparison/in/and/or/not "
                    "over plain columns and primitive literals compile)."
                    " Pass pyarrow-style DNF filter tuples, or an "
                    "explicit cache_dir on a durable filesystem to "
                    "materialize the filtered scan."
                )
            # the JVM reaches this URL but pyarrow cannot, so the
            # direct tier has no files to stream: materialize the plan
            # once into a reader-owned tempdir.
            self._owned_cache = tempfile.mkdtemp(prefix="pstorm_cache_")
            plan.write.mode("overwrite").parquet(self._owned_cache)
            self._files = _list_parquet_files_fs(
                pafs.LocalFileSystem(), self._owned_cache
            )
        if not self._files:
            raise ValueError(
                f"no parquet files found for {urls}"
            )

        # ---- piece list (one per row group) --------------------------------
        # Row-group counts come from the metadata sidecar when present
        # (no footer opened at all — the reference's
        # num_row_groups_per_file map, same idea); otherwise a PARALLEL
        # footer scan, never a serial per-file driver loop. With DNF
        # filters the footer scan also prunes row groups whose min/max
        # statistics cannot match (a materialized cache holds filtered
        # rows already and is not pruned).
        dnf = self._dnf if self._direct_root is not None else None
        counts = None if dnf else self._rowgroup_counts_from_sidecar()
        if counts is not None:
            kept = {f: (n, range(n)) for f, n in counts.items()}
        else:
            kept = _parallel_footers(self._fs, self._files, lambda p, md: (
                md.num_row_groups,
                [r for r in range(md.num_row_groups)
                 if dnf is None or rg_may_match(md, r, dnf)],
            ))
        unpruned_rgs = sum(kept[f][0] for f in self._files)
        self._pieces: list[tuple[str, int, int]] = [
            (f, rg, sl)
            for f in self._files
            for rg in kept[f][1]
            for sl in range(self._drop_parts)
        ]
        # Validate shard_count against the UNPRUNED piece count: a
        # selective DNF filter (or absent parquet stats) must not turn a
        # working sharded read into a hard error — shards emptied by
        # pruning simply yield nothing, matching the materialized path.
        if shard_count is not None and unpruned_rgs * self._drop_parts < shard_count:
            raise ValueError(
                f"{unpruned_rgs * self._drop_parts} row groups < "
                f"{shard_count} shards; write the dataset with "
                "more/smaller row groups"
            )
        self._nt = self.schema.namedtuple_cls()
        self._piece_spec = _PieceSpec(
            self._fs,
            self._drop_parts,
            need,
            list(view.fields),
            self._dnf,
            self._schema_evolution,
            full_schema,
            predicate,
            transform_spec,
            shuffle_rows,
        )

    # ---- open path ---------------------------------------------------------

    def _open(self, urls: list[str], fs_pairs: list) -> tuple:
        """(Spark DataFrame, None) over one or many same-scheme URLs, or
        (None, Spark schema) from parquet footers when the JVM has no
        filesystem for the scheme (e.g. s3a:// without hadoop-aws on the
        driver classpath) — the direct tier still reaches it through
        pyarrow's from_uri, and the reader runs plan-tier-less.

        Schema evolution: later-written files may ADD nullable columns
        (mergeSchema unions footers JVM-side; the kernel null-fills a
        column absent from an old file via partition_values missing_ok)
        or WIDEN a column along the safe chains int32->int64 /
        float->double. mergeSchema refuses type changes, so a
        CANNOT_MERGE_SCHEMAS read retries under the explicit widened
        union schema (the parquet scan promotes per file) and the
        kernel's decode cast to the unified Unischema dtype widens per
        piece. Cross-kind changes (int<->float, string<->numeric, array
        element changes) raise ValueError from the union."""
        try:
            if len(urls) > 1 and not self._schema_evolution:
                _require_same_schema(
                    urls, [self._spark.read.parquet(u).schema for u in urls]
                )
            read = self._spark.read
            if self._schema_evolution:
                read = read.option("mergeSchema", "true")
            try:
                return read.parquet(*urls), None
            except Exception as exc:
                if not (
                    self._schema_evolution and "CANNOT_MERGE_SCHEMAS" in str(exc)
                ):
                    raise
                st = _widened_union_schema(urls)
                return self._spark.read.schema(st).parquet(*urls), None
        except ValueError:
            raise  # schema conflict — never a filesystem problem
        except Exception:
            if any(p is None for p in fs_pairs):
                raise
            leaves = [_list_parquet_files_fs(pfs, root) for pfs, root in fs_pairs]
            if not all(leaves):
                raise
            if self._schema_evolution:
                return None, _widened_union_schema(urls)
            from pyspark.sql.pandas.types import from_arrow_schema

            structs = []
            for (pfs, _), files in zip(fs_pairs, leaves):
                with pfs.open_input_file(files[0]) as fh:
                    structs.append(from_arrow_schema(pq.read_schema(fh)))
            _require_same_schema(urls, structs)
            return None, structs[0]

    # ---- iteration tier ----------------------------------------------------

    def _epoch_pieces(self) -> list[tuple[str, int]]:
        order = np.arange(len(self._pieces))
        # D1: shard by PIECE INDEX before any shuffle (reference
        # petastorm/reader.py:596 `index % shard_count == cur_shard`) —
        # shards stay disjoint across workers even with
        # shuffle_row_groups=True and per-worker default RNGs; each
        # worker then shuffles only its own shard.
        if self._shard_count is not None:
            order = order[self._cur_shard :: self._shard_count]
        if self._shuffle_row_groups:
            self._rng.shuffle(order)
        return [self._pieces[i] for i in order]

    def _rowgroup_counts_from_sidecar(self) -> dict | None:
        """Per-file row-group counts from the metadata sidecar — valid
        only on the direct path over the original dataset files."""
        if self._sidecar_counts is None or self._direct_root is None:
            return None
        root = self._direct_root.rstrip("/")
        by_path = {f"{root}/{rel}": n for rel, n in self._sidecar_counts.items()}
        if all(f in by_path for f in self._files):
            return {f: by_path[f] for f in self._files}
        return None  # stale/partial sidecar: fall back to footer scan

    def _decode_piece(
        self, path: str, rg: int, sl: int, rng: np.random.Generator
    ) -> pd.DataFrame | None:
        """One piece on the inline and thread pools."""
        return _read_piece(self._piece_spec, path, rg, sl, rng)

    def _batch_to_vectors(self, pdf: pd.DataFrame):
        vals = {}
        for name in self._nt._fields:
            field = self.schema.fields.get(name)
            col = pdf[name]
            if field is not None and field.is_tensor:
                arrs = list(col)
                fixed = field.shape is not None and all(
                    d is not None for d in field.shape
                )
                if fixed and arrs and all(a is not None for a in arrs):
                    vals[name] = np.stack(arrs)
                else:
                    out = np.empty(len(arrs), dtype=object)
                    out[:] = arrs
                    vals[name] = out
            else:
                vals[name] = col.to_numpy()
        return self._nt(**vals)

    def _piece_stream(self):
        """(path, rg, slice, rng) across all epochs. Per-piece RNGs are
        derived from (seed, epoch, index) so decode order — including
        threaded prefetch — never changes results."""
        epoch = 0
        while self._num_epochs is None or epoch < self._num_epochs:
            for idx, (path, rg, sl) in enumerate(self._epoch_pieces()):
                rng = np.random.default_rng(
                    None if self._seed is None else (self._seed, epoch, idx)
                )
                yield path, rg, sl, rng
            epoch += 1

    def _emit(self, pdf):
        if pdf is None or not len(pdf):
            return
        if self._ngram is not None:
            yield from self._ngram.form_ngram_dicts(pdf)
        elif self._batched:
            yield self._batch_to_vectors(pdf)
        else:
            cols = [pdf[n] for n in self._nt._fields]
            yield from (self._nt(*vals) for vals in zip(*cols))

    def _executor(self):
        """The reader's one executor, started by its first pooled
        iteration and kept until :meth:`close`, as petastorm starts its
        pool once per Reader (a spawned worker pays ~1 s of spawn and
        package import). Process workers receive the piece spec once,
        through the pool initializer."""
        if self._pool is None:
            if self._pool_type == "process":
                try:
                    blob = cloudpickle.dumps(self._piece_spec)
                except (pickle.PicklingError, TypeError, AttributeError) as exc:
                    spec = self._piece_spec
                    raise TypeError(
                        "reader_pool_type='process' sends the predicate "
                        f"{spec.predicate!r} and the transform_spec "
                        f"{spec.transform!r} to its worker processes, and "
                        f"cloudpickle cannot serialize them: {exc}"
                    ) from exc
                self._pool = ProcessPoolExecutor(
                    self._workers,
                    mp_context=multiprocessing.get_context("spawn"),
                    initializer=_start_worker,
                    initargs=(blob,),
                )
            else:
                self._pool = ThreadPoolExecutor(self._workers)
        return self._pool

    def _prefetched(self):
        """The thread and process pools' bounded prefetch: up to 2x
        workers pieces in flight, consumed in submission order
        (round-robin determinism, like the reference's thread pool
        result draining). An iteration left half-way (break, close,
        error) cancels the pieces not yet started and waits for the
        running ones, so none of them runs into the next epoch."""
        pool = self._executor()
        run = _worker_read_piece if self._pool_type == "process" else self._decode_piece
        pieces = self._piece_stream()
        window = deque(
            pool.submit(run, *p) for p in itertools.islice(pieces, 2 * self._workers)
        )
        try:
            while window:
                pdf = window.popleft().result()
                for p in itertools.islice(pieces, 1):
                    window.append(pool.submit(run, *p))
                yield from self._emit(pdf)
        finally:
            # a cancelled piece is never "done" to wait() until a pool
            # worker dequeues it, and close() drops queued pieces without
            # one: wait only for the pieces already running
            wait([fut for fut in window if not fut.cancel()])

    def __iter__(self):
        self.last_row_consumed = False
        if self._managed_cache is not None:
            try:  # refresh LRU rank so a mid-epoch reader isn't "oldest"
                os.utime(self._managed_cache)
            except OSError:
                pass
        if self._sentinel is not None:
            try:  # refresh the pin lease (see _SENTINEL_TTL_SEC)
                os.utime(self._sentinel)
            except OSError:
                pass
        if self._pool_type == "process" or self._workers > 1:
            yield from self._prefetched()
        else:
            for piece in self._piece_stream():
                yield from self._emit(self._decode_piece(*piece))
        self.last_row_consumed = True

    # ---- lifecycle ---------------------------------------------------------

    def close(self) -> None:
        if self._pool is not None:
            self._pool.shutdown(wait=True, cancel_futures=True)
            self._pool = None
        if self._owned_cache and os.path.isdir(self._owned_cache):
            shutil.rmtree(self._owned_cache, ignore_errors=True)
            self._owned_cache = None
        if self._sentinel is not None:
            try:
                os.unlink(self._sentinel)
            except OSError:
                pass
            self._sentinel = None

    def reset(self) -> None:
        """Reference API compat (petastorm Reader.reset): our reader
        supports repeated iteration until close(), so reset only clears
        the consumed flag."""
        self.last_row_consumed = False

    stop = close  # reference API alias
    join = close

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def make_reader(dataset_url: str, **kwargs) -> Reader:
    """Row-oriented reader over a (petastorm-style or plain) parquet
    dataset: yields one namedtuple per row with tensor fields decoded.
    Single URL only (reference parity, petastorm/reader.py:60)."""
    if isinstance(dataset_url, (list, tuple)):
        raise ValueError(
            "make_reader accepts a single dataset URL; use "
            "make_batch_reader for a list of URLs (reference parity)"
        )
    return Reader(dataset_url, batched=False, **kwargs)


def make_batch_reader(dataset_url_or_urls, **kwargs) -> Reader:
    """Columnar reader: yields one namedtuple of column vectors per row
    group (post filter/transform). Accepts one parquet URL or a list of
    same-scheme URLs merged as a single dataset (reference
    petastorm/reader.py:51-57,209)."""
    return Reader(dataset_url_or_urls, batched=True, **kwargs)
