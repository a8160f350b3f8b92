"""Row-group load, partition-value and decode helpers that the
Reader's one piece function (``reader._read_piece``) composes, and the
owner of the reader's filter language: its parser, its op table, the
row mask and row-group pruning.

Parity surface: petastorm/py_dict_reader_worker.py:150-232 (row-group
load, two-phase decode) and petastorm/arrow_reader_worker.py (DNF
filters). The piece helpers use only numpy, pandas and pyarrow and
never reach a SparkSession, so the piece function runs unchanged in the
parent (inline and thread pools) and in ``reader_pool_type='process'``
workers. The module is not free of pyspark, though: importing it runs
``petastorm_spark/__init__.py`` (session, reader and every operator
module), and a spawned worker unpickles the piece spec in
``petastorm_spark.reader``, so each worker imports pyspark once at
start (it never launches a JVM).
"""

from __future__ import annotations

import contextlib
import datetime
import operator
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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


# ---------------------------------------------------------------------------
# The reader's filter language: pyarrow/petastorm-style DNF filters, a
# list of OR-ed clauses, each a list of AND-ed ('column', op, value)
# tuples (reference: make_batch_reader(filters=...) hands them to
# pyarrow). The one op table below drives the Spark plan filter
# (reader._dnf_to_column), the row mask (dnf_mask) and row-group pruning
# (rg_may_match), with Spark SQL semantics: a null never matches, and NaN
# equals NaN and sorts above every other value.
# ---------------------------------------------------------------------------


def _isin(x, values):
    # a Spark Column brings its own isin; numpy arrays use np.isin
    return x.isin(list(values)) if hasattr(x, "isin") else np.isin(x, values)


class _Op(NamedTuple):
    test: Callable  # row test over (column, literal): Spark Column or numpy
    may: Callable  # (min, max, literal) -> may a row in [min, max] pass?
    negation: str  # passes exactly the non-null rows this op rejects
    mirror: str | None  # the op with its operands swapped; None: list op


OPS = {
    "=": _Op(operator.eq, lambda lo, hi, v: lo <= v <= hi, "!=", "="),
    "!=": _Op(operator.ne, lambda lo, hi, v: not lo == hi == v, "=", "!="),
    "<": _Op(operator.lt, lambda lo, hi, v: lo < v, ">=", ">"),
    "<=": _Op(operator.le, lambda lo, hi, v: lo <= v, ">", ">="),
    ">": _Op(operator.gt, lambda lo, hi, v: hi > v, "<=", "<"),
    ">=": _Op(operator.ge, lambda lo, hi, v: hi >= v, "<", "<="),
    "in": _Op(_isin, lambda lo, hi, vs: any(lo <= v <= hi for v in vs), "not in", None),
    "not in": _Op(lambda x, vs: ~_isin(x, vs),
                  lambda lo, hi, vs: not (lo == hi and lo in vs), "in", None),
}


class Cond(NamedTuple):
    column: str
    op: str  # a key of OPS
    value: object  # the literal in the column's type; a tuple for list ops
    as_float: bool  # compared as doubles: a float column or a float literal


def _float_key(x) -> np.ndarray:
    # doubles as int64 keys in Spark's order: -0.0 equals 0.0, and NaN
    # equals NaN and sorts above +inf
    a = np.asarray(x, dtype=np.float64) + 0.0  # -0.0 + 0.0 is +0.0
    bits = np.where(np.isnan(a), np.nan, a).view(np.int64)  # one NaN
    return np.where(bits < 0, bits ^ np.int64(0x7FFFFFFFFFFFFFFF), bits)


_NAN_KEY = _float_key(np.nan)


def _domain(x, as_float: bool):
    # column values, statistics bounds or literal as a condition compares them
    return _float_key(x) if as_float else x


def passes_nan(c: Cond) -> bool:
    """Does a NaN value pass the float condition ``c``? (NaN equals NaN
    and sorts above every other value.)"""
    return c.as_float and bool(OPS[c.op].test(_NAN_KEY, _domain(c.value, True)))


# Spark numeric column types, with the cast Spark applies to a string
# literal compared with them
_NUMERIC = {"byte": int, "short": int, "integer": int, "long": int,
            "float": float, "double": float}
# the literal types every other column type compares with unconverted
_PLAIN = {"string": str, "binary": bytes, "boolean": bool, "date": datetime.date,
          None: (bool, int, float, str, bytes, datetime.date)}  # type unknown


def _literal(dtype, v, clause):
    # v in its column's type, as Spark's implicit cast converts it (a float
    # compares as a double), else ValueError naming the clause
    v = v.item() if isinstance(v, np.generic) else v
    kind = dtype.typeName() if dtype is not None else None
    cast = _NUMERIC.get(kind)
    if cast and isinstance(v, str) and "_" not in v:
        with contextlib.suppress(ValueError):
            v = cast(v)
    if cast and isinstance(v, (int, float)) and not isinstance(v, bool):
        if cast is float or isinstance(v, float):
            return float(v)
        if -(2**63) <= v < 2**63:
            return v
    elif not cast and isinstance(v, _PLAIN.get(kind, ())):
        return v
    raise ValueError(
        f"filter {clause!r}: literal {v!r} cannot be compared with column "
        f"{clause[0]!r} of type {dtype.simpleString() if dtype else 'unknown'}"
    )


def _cond(clause, dtype) -> Cond | None:
    # one parsed condition; None when it passes every row
    col, op, value = clause
    op = "=" if op == "==" else op
    if op not in OPS:
        raise ValueError(f"filter {clause!r}: unsupported op {op!r}; ops "
                         f"are {sorted(OPS)} and '=='")
    listy = OPS[op].mirror is None
    if listy and (isinstance(value, (str, bytes)) or not hasattr(value, "__iter__")):
        raise ValueError(f"filter {clause!r}: {op!r} takes a list of values")
    values = tuple(value) if listy else (value,)
    if op == "not in" and not values:
        return None  # Spark: NULL IN () is false, so NOT IN () passes nulls
    if op != "in" and any(v is None for v in values):
        return Cond(col, "in", (), False)  # x = NULL, x NOT IN (NULL): no row
    lits = tuple(_literal(dtype, v, clause) for v in values if v is not None)
    as_float = any(isinstance(v, float) for v in lits)
    return Cond(col, op, lits if listy else lits[0], as_float)


def parse_filters(filters, types: dict) -> tuple:
    """OR-ed clauses of AND-ed :class:`Cond` from one clause (a list of
    ``(column, op, value)`` tuples) or a list of clauses; ``types`` maps
    columns to Spark data types. Raises ValueError on a malformed filter,
    an unknown op or a literal its column cannot be compared with."""

    def is_cond(c) -> bool:
        return isinstance(c, tuple) and len(c) == 3 and isinstance(c[0], str)

    flat = isinstance(filters, (list, tuple)) and filters and is_cond(filters[0])
    clauses = [filters] if flat else filters
    if not isinstance(clauses, (list, tuple)) or not clauses or not all(
        isinstance(cl, (list, tuple)) and cl and all(map(is_cond, cl))
        for cl in clauses
    ):
        raise ValueError(
            "filters must be a Spark Column, or a non-empty list of (column, "
            f"op, value) tuples or of such lists; got {filters!r}"
        )
    return tuple(
        tuple(filter(None, (_cond(c, types.get(c[0])) for c in clause)))
        for clause in clauses
    )


def _column_values(table: pa.Table, parts: dict, name: str, as_float: bool):
    # (validity, values in the condition's domain) as numpy arrays; True
    # validity: no nulls; values None: all null. Null slots of values
    # hold a stand-in of the column's type.
    col = pa.array([parts[name]] * len(table)) if name in parts else table.column(name)
    if col.null_count == len(col):
        return False, None
    valid = col.is_valid().to_numpy(zero_copy_only=False) if col.null_count else True
    if col.null_count:
        col = col.fill_null(pc.min(col))
    return valid, _domain(col.to_numpy(zero_copy_only=False), as_float)


def dnf_mask(table: pa.Table, parts: dict, clauses) -> np.ndarray:
    """The rows of one piece that pass the parsed filter, as a numpy bool
    array. Nulls come from arrow validity, so a null (never a match)
    stays distinct from a NaN."""
    cols: dict = {}
    out = np.zeros(len(table), dtype=bool)
    for clause in clauses:
        m = np.ones(len(table), dtype=bool)
        for c in clause:
            key = (c.column, c.as_float)
            if key not in cols:
                cols[key] = _column_values(table, parts, *key)
            valid, values = cols[key]
            lit = _domain(c.value, c.as_float)
            m &= valid if values is None else valid & OPS[c.op].test(values, lit)
        out |= m
    return out


def rg_may_match(md, rg: int, clauses) -> bool:
    """May row group ``rg`` of a file (parquet metadata ``md``) hold a row
    that passes the parsed filter, judging from min/max statistics? Kept
    when a column has no statistics or is not in the file (hive partition
    keys), or a bound is NaN or incomparable with the literal; a float
    column's max reads as NaN, as writers may leave NaN out of it."""
    names = md.schema.names
    row_group = md.row_group(rg)

    def may(c: Cond) -> bool:
        if c.column not in names:
            return True
        chunk = row_group.column(names.index(c.column))
        stats = chunk.statistics
        if stats is None or not stats.has_min_max:
            return True
        lo, hi = stats.min, stats.max
        if c.as_float:
            if lo != lo:
                return True
            floating = chunk.physical_type in ("FLOAT", "DOUBLE")
            lo, hi = _float_key(lo), _NAN_KEY if floating else _float_key(hi)
        try:
            return bool(OPS[c.op].may(lo, hi, _domain(c.value, c.as_float)))
        except TypeError:
            return True  # incomparable types: never prune on a guess

    return any(all(map(may, clause)) for clause in clauses)
