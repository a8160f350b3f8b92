"""Row-group load, partition-value, DNF-mask and decode helpers that
the Reader's one piece function (``reader._read_piece``) composes, plus
the DNF row-group pruning the Reader applies when it plans its pieces.

Parity surface: petastorm/py_dict_reader_worker.py:150-232 (row-group
load, two-phase decode) and petastorm/arrow_reader_worker.py (DNF
filters). The functions here use only numpy, pandas and pyarrow and
never reach a SparkSession, so the piece function runs unchanged in the
parent (inline and thread pools) and in ``reader_pool_type='process'``
workers. The module is not free of pyspark, though: importing it runs
``petastorm_spark/__init__.py`` (session, reader and every operator
module), and a spawned worker unpickles the piece spec in
``petastorm_spark.reader``, so each worker imports pyspark once at
start (it never launches a JVM).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _is_null_scalar(v) -> bool:
    return v is None or (isinstance(v, float) and np.isnan(v))


def decode_series(field, col: pd.Series) -> pd.Series:
    """Codec decode / numpy dtype restore for one column (C5)."""
    if field is None:
        return col
    castable = (
        # tensor/array fields carry their ELEMENT dtype; casting the
        # object Series of per-row arrays to it explodes ("setting an
        # array element with a sequence") — arrow already delivered
        # each element with the right dtype, so they pass through
        not field.is_tensor
        and field.numpy_dtype is not None
        and field.numpy_dtype not in (np.str_, np.bytes_, str, bytes)
        and np.dtype(field.numpy_dtype).kind in "iufb"
    )
    if field.codec is None and not castable:
        return col
    if col.isna().any():
        return pd.Series(
            [
                None
                if _is_null_scalar(v)
                else (
                    field.codec.decode(field, v)
                    if field.codec
                    else np.dtype(field.numpy_dtype).type(v)
                )
                for v in col
            ],
            dtype=object,
            index=col.index,
        )
    if field.codec is not None and not field.is_tensor and castable:
        # scalar codec == a dtype cast; stay vectorized
        return col.astype(np.dtype(field.numpy_dtype))
    if field.codec is not None:
        return pd.Series(
            [field.codec.decode(field, v) for v in col],
            dtype=object,
            index=col.index,
        )
    return col.astype(np.dtype(field.numpy_dtype))


def load_table(
    fs, path: str, rg: int, sl: int, drop_parts: int, read_columns
) -> pa.Table:
    """Read one row group (optionally one strided slice of it) as an
    ARROW table — codec payload bytes stay in arrow buffers until
    :func:`decode_col` slices them as memoryviews, so the hot read path
    never materializes an intermediate python ``bytes`` per row (the
    ``to_pandas`` copy was ~30%% of per-piece wall on the PNG bench)."""
    with fs.open_input_file(path) as f:
        pf = pq.ParquetFile(f)
        cols = [c for c in read_columns if c in pf.schema_arrow.names]
        table = pf.read_row_group(rg, columns=cols or None)
    if drop_parts > 1:
        table = table.take(np.arange(sl, len(table), drop_parts))
    return table


def partition_values(
    path: str, read_columns, present_columns, schema, missing_ok: bool = False
) -> dict:
    """{column: typed scalar} for requested hive-partition columns not
    stored in the file, recovered from the path with the schema's
    partition-value typing. Raises KeyError for a requested column that
    is neither in the file nor on the path — unless ``missing_ok`` (the
    schema-evolution read path), where the column becomes a NULL
    constant: files written before a nullable column was added simply
    have no values for it."""
    parts: dict = {}
    present = set(present_columns)
    for c in read_columns:
        if c in present:
            continue
        marker = f"/{c}="
        if marker in path:
            val: object = path.split(marker, 1)[1].split("/", 1)[0]
            # honor Spark's partition-value type inference (pk=1 -> int)
            field = schema.fields.get(c) if schema is not None else None
            if (
                field is not None
                and field.numpy_dtype is not None
                and field.numpy_dtype not in (np.str_, np.bytes_, str, bytes)
            ):
                kind = np.dtype(field.numpy_dtype).kind
                if kind in "iu":
                    val = int(val)
                elif kind == "f":
                    val = float(val)
            parts[c] = val
        elif missing_ok:
            parts[c] = None
        else:
            raise KeyError(f"column {c} not found in {path}")
    return parts


def _decode_binary_chunks(field, col: pa.ChunkedArray, sel) -> list:
    """Decode a (large_)binary ChunkedArray through ``field.codec``
    straight from the arrow buffers: each value reaches the codec as a
    zero-copy memoryview slice of the data buffer. ``sel``: optional
    sorted global row indices to decode (others skipped — the two-phase
    predicate path decodes survivors only)."""
    decode = field.codec.decode
    out: list = []
    base = 0
    sel_pos = 0
    for chunk in col.chunks:
        n = len(chunk)
        if sel is None:
            idxs = range(n)
        else:
            start = sel_pos
            while sel_pos < len(sel) and sel[sel_pos] < base + n:
                sel_pos += 1
            idxs = [int(g - base) for g in sel[start:sel_pos]]
            if not idxs:
                base += n
                continue
        if chunk.null_count:
            for i in idxs:
                v = chunk[i]
                out.append(decode(field, v.as_py()) if v.is_valid else None)
        else:
            width = 8 if pa.types.is_large_binary(chunk.type) else 4
            dt = np.int64 if width == 8 else np.int32
            bufs = chunk.buffers()
            off = np.frombuffer(
                bufs[1], dtype=dt, count=n + 1, offset=chunk.offset * width
            )
            # cast('B'): arrow buffers expose format 'b' (signed), under
            # which memoryview == bytes is ALWAYS False — codecs compare
            # signature prefixes against bytes literals, so hand them
            # unsigned views (the cast is zero-copy)
            data = memoryview(bufs[2]).cast("B")
            out.extend(
                decode(field, data[off[i]:off[i + 1]]) for i in idxs
            )
        base += n
    return out


def decode_col(
    field, table: pa.Table, parts: dict, name: str, sel
) -> pd.Series:
    """One decoded column of a piece as a default-indexed Series.
    ``sel``: optional sorted ndarray of surviving row indices (post
    dnf/predicate filtering); None keeps every row."""
    n_out = len(sel) if sel is not None else len(table)
    if name in parts:
        return pd.Series([parts[name]] * n_out)
    col = table.column(name)
    if (
        field is not None
        and field.codec is not None
        and (pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type))
    ):
        return pd.Series(
            _decode_binary_chunks(field, col, sel), dtype=object
        )
    s = col.to_pandas()
    if sel is not None:
        s = s.iloc[sel].reset_index(drop=True)
    return decode_series(field, s)


def scalar_frame(table: pa.Table, parts: dict, names) -> pd.DataFrame:
    """Undecode d pandas frame of the given (scalar) columns — the DNF
    mask input. Partition columns come from ``parts`` as constants."""
    data = {}
    for c in names:
        if c in parts:
            data[c] = pd.Series([parts[c]] * len(table))
        else:
            data[c] = table.column(c).to_pandas()
    return pd.DataFrame(data)


# ---------------------------------------------------------------------------
# DNF (pyarrow-style) filters: [('col', op, val), ...] conjunction, or a
# list of such lists (disjunction of conjunctions). Reference surface:
# petastorm make_batch_reader(filters=...) passes these to pyarrow.
# ---------------------------------------------------------------------------


def is_dnf_filters(filters) -> bool:
    if not isinstance(filters, (list, tuple)) or not filters:
        return False
    first = filters[0]
    if isinstance(first, tuple) and len(first) == 3:
        return all(isinstance(f, tuple) and len(f) == 3 for f in filters)
    if isinstance(first, (list, tuple)):
        return all(
            isinstance(cl, (list, tuple))
            and cl
            and all(isinstance(f, tuple) and len(f) == 3 for f in cl)
            for cl in filters
        )
    return False


def dnf_clauses(filters) -> list:
    return list(filters) if isinstance(filters[0], (list, tuple)) and not (
        isinstance(filters[0], tuple) and len(filters[0]) == 3
    ) else [list(filters)]


def dnf_columns(filters) -> list[str]:
    return sorted({c for clause in dnf_clauses(filters) for c, _, _ in clause})


def _cond_mask(pdf: pd.DataFrame, col: str, op: str, val) -> np.ndarray:
    s = pdf[col]
    if op in ("=", "=="):
        m = s == val
    elif op == "!=":
        # SQL/pyarrow null semantics: NULL != x is NULL (dropped).  Plain
        # pandas `s != val` evaluates True for float NaN, which would make
        # the direct-stream tier keep rows the plan tier drops.
        m = (s != val) & s.notna()
    elif op == "<":
        m = s < val
    elif op == "<=":
        m = s <= val
    elif op == ">":
        m = s > val
    elif op == ">=":
        m = s >= val
    elif op == "in":
        m = s.isin(list(val))
    elif op == "not in":
        m = ~s.isin(list(val)) & s.notna()
    else:
        raise ValueError(f"unsupported DNF filter op {op!r}")
    return np.asarray(m.fillna(False), dtype=bool)


def dnf_mask(pdf: pd.DataFrame, filters) -> np.ndarray:
    out = np.zeros(len(pdf), dtype=bool)
    for clause in dnf_clauses(filters):
        m = np.ones(len(pdf), dtype=bool)
        for col, op, val in clause:
            m &= _cond_mask(pdf, col, op, val)
        out |= m
    return out


def rg_may_match(rg_meta, col_names: list[str], filters) -> bool:
    """Row-group pruning from parquet min/max statistics: False only if
    NO disjunct can possibly match (conservative — missing stats, or
    columns not in the file such as hive-partition keys, keep the
    group)."""

    def cond_possible(col, op, val) -> bool:
        try:
            idx = col_names.index(col)
        except ValueError:
            return True
        stats = rg_meta.column(idx).statistics
        if stats is None or not stats.has_min_max:
            return True
        mn, mx = stats.min, stats.max
        try:
            if op in ("=", "=="):
                return mn <= val <= mx
            if op == "!=":
                return not (mn == mx == val)
            if op == "<":
                return mn < val
            if op == "<=":
                return mn <= val
            if op == ">":
                return mx > val
            if op == ">=":
                return mx >= val
            if op == "in":
                return any(mn <= v <= mx for v in val)
            if op == "not in":
                return not (mn == mx and mn in list(val))
        except TypeError:
            return True  # incomparable types: never prune on a guess
        return True

    return any(
        all(cond_possible(*cond) for cond in clause)
        for clause in dnf_clauses(filters)
    )
