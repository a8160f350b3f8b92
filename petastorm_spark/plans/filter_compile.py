"""Compile a Spark ``Column`` filter into pyarrow/petastorm-style DNF
tuples, so ``filters=<Column>`` readers can stream row groups directly
from the source filesystem instead of materializing a filtered copy to
driver-local disk (round-2 verdict: reader.py tempfile path).

Walks the ``ColumnNode`` tree a classic pyspark 4.x Column wraps
(org.apache.spark.sql.internal.UnresolvedFunction / UnresolvedAttribute
/ Literal). Only comparison leaves over a single column with a
primitive literal are accepted; anything else (arithmetic, string
functions, UDFs, struct fields, non-primitive literals such as
timestamps) returns None and the caller falls back to the residual
JVM-filter path.

The conversion distributes AND over OR into full disjunctive normal
form — worst-case exponential in expression depth, so the clause count
is capped (a filter that explodes past the cap is left JVM-side).

Op names, negations (``!(x < v)`` is ``x >= v``) and mirrors (``v < x``
is ``x > v``) come from the reader's op table, ``_piece_worker.OPS``.
Its semantics are Spark's (a comparison with NULL drops the row; NaN
equals NaN and sorts above every other value), so a negation passes
exactly the non-null rows its operand rejects.
"""

from __future__ import annotations

from petastorm_spark._piece_worker import OPS

_MAX_CLAUSES = 64


class _NotCompilable(Exception):
    pass


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _attr_name(node) -> str:
    if _cls(node) != "UnresolvedAttribute":
        raise _NotCompilable
    parts = node.nameParts()
    if parts.size() != 1:
        raise _NotCompilable  # struct fields / qualified names stay JVM-side
    return parts.apply(0)


def _lit_value(node):
    if _cls(node) != "Literal":
        raise _NotCompilable
    v = node.value()
    # py4j auto-converts primitive java values; timestamps/decimals/etc.
    # surface as JavaObject wrappers -> not compilable
    if v is None or not isinstance(v, (bool, int, float, str)):
        raise _NotCompilable
    return v


def _args(node) -> list:
    seq = node.arguments()
    return [seq.apply(i) for i in range(seq.size())]


def _leaf(node) -> tuple:
    """A single comparison -> ('col', op, value) DNF condition."""
    if _cls(node) != "UnresolvedFunction":
        raise _NotCompilable
    fn = node.functionName()
    args = _args(node)
    if fn == "!" and len(args) == 1:
        col, op, val = _leaf(args[0])
        return (col, OPS[op].negation, val)
    op = OPS.get(fn)
    if op is None:
        raise _NotCompilable
    if op.mirror is None:  # a list op: x IN (v, ...)
        return (_attr_name(args[0]), fn, [_lit_value(a) for a in args[1:]])
    if len(args) != 2:
        raise _NotCompilable
    # attr on either side; mirror the comparison when the literal leads
    if _cls(args[0]) == "UnresolvedAttribute":
        return (_attr_name(args[0]), fn, _lit_value(args[1]))
    return (_attr_name(args[1]), op.mirror, _lit_value(args[0]))


def _dnf(node) -> list[list[tuple]]:
    """Disjunction-of-conjunctions clause list for a boolean node."""
    fn = node.functionName() if _cls(node) == "UnresolvedFunction" else None
    if fn not in ("or", "and"):
        return [[_leaf(node)]]
    left, right = map(_dnf, _args(node))
    out = left + right if fn == "or" else [lc + rc for lc in left for rc in right]
    if len(out) > _MAX_CLAUSES:
        raise _NotCompilable
    return out


def column_to_dnf(col) -> list[list[tuple]] | None:
    """DNF tuple clauses equivalent to a Column filter, or None when the
    expression is not expressible (caller keeps the JVM filter)."""
    try:
        return _dnf(col._jc.node())
    # not compilable, a Spark Connect column (no _jc), or a py4j surprise
    # on an exotic node: never fail the reader
    except Exception:
        return None
