"""Data profiling + constraint checks — the Deequ / Great-Expectations
leg of the pipeline: before a corpus snapshot ships (or a new ingest
batch merges), profile every column in ONE pass and assert the
contract (not-null, unique, range, membership). The reference engine
has no validation surface (SURVEY §2 — it moves tensors); this is
beyond-parity curation tooling next to the privacy module.

Exactness: every metric is an exact count / exact min-max selection
(no float summation anywhere), so the oracle reproduces the profile
bit-for-bit; numeric min/max are released as doubles (selection, not
arithmetic — identical in any engine), string min/max as the
lexicographic extremes.

Scale: profiling is ONE partially-aggregated pass over the table (a
handful of agg expressions per column, exchange carries one row per
partition); each constraint is one filter-count over the same scan,
unique checks one groupBy on the key."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType


def profile_columns(
    df: DataFrame, cols: Sequence[str] | None = None
) -> DataFrame:
    """One-pass column profile: (column, n, n_null, n_distinct,
    min_num, max_num, min_str, max_str) per column — numeric extremes
    for numeric columns, lexicographic extremes for strings, NULL for
    the other family (and for both on unsupported types). n_distinct
    is EXACT (count(distinct col), null excluded) — swap in the HLL
    sketch (operators/sketch.py) when the column is high-cardinality
    at 100 TB and 2% error is acceptable.

    Single Aggregate node (one exchange), then a plan-literal explode
    to long form — profiling N columns costs one scan, not N."""
    cols = list(cols) if cols is not None else [f.name for f in df.schema]
    aggs = []
    for c in cols:
        dt = df.schema[c].dataType
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"_nd_{c}"),
        ]
        if isinstance(dt, NumericType):
            aggs += [
                F.min(F.col(c)).cast("double").alias(f"_mn_{c}"),
                F.max(F.col(c)).cast("double").alias(f"_mx_{c}"),
                F.lit(None).cast("string").alias(f"_ms_{c}"),
                F.lit(None).cast("string").alias(f"_xs_{c}"),
            ]
        elif isinstance(dt, StringType):
            aggs += [
                F.lit(None).cast("double").alias(f"_mn_{c}"),
                F.lit(None).cast("double").alias(f"_mx_{c}"),
                F.min(F.col(c)).alias(f"_ms_{c}"),
                F.max(F.col(c)).alias(f"_xs_{c}"),
            ]
        else:
            aggs += [
                F.lit(None).cast("double").alias(f"_mn_{c}"),
                F.lit(None).cast("double").alias(f"_mx_{c}"),
                F.lit(None).cast("string").alias(f"_ms_{c}"),
                F.lit(None).cast("string").alias(f"_xs_{c}"),
            ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_n_{c}").alias("n"),
                F.col(f"_nn_{c}").alias("n_null"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_mn_{c}").alias("min_num"),
                F.col(f"_mx_{c}").alias("max_num"),
                F.col(f"_ms_{c}").alias("min_str"),
                F.col(f"_xs_{c}").alias("max_str"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("_p")).select("_p.*")


def violation_expr(chk: tuple):
    """The shared check-kind -> violation-predicate mapping behind
    :func:`fused_violation_counts` (so :func:`check_constraints` and
    streaming.feed.constraint_check_stream) and
    :func:`observed_constraints` — one ladder, the null semantics live
    HERE. Returns a boolean
    Column that is true for a violating row; NULL violates every kind
    except its absence from ``unique`` (which is not expressible as a
    per-row predicate and is handled by its callers)."""
    kind, col = chk[0], chk[1]
    if kind == "not_null":
        return F.col(col).isNull()
    if kind == "range":
        return F.col(col).isNull() | ~(
            (F.col(col) >= chk[2]) & (F.col(col) <= chk[3])
        )
    if kind == "in_set":
        return F.col(col).isNull() | ~F.col(col).isin(list(chk[2]))
    if kind == "regex":
        return F.col(col).isNull() | ~F.col(col).rlike(chk[2])
    raise ValueError(f"unknown check kind {kind!r}")


def fused_violation_counts(df: DataFrame, checks: Sequence[tuple]) -> DataFrame:
    """(check, column, n_violations) for the per-row-predicate checks,
    one row each: every check's violation count folds into ONE
    aggregate over ``df`` (one scan, one stateful operator on a
    stream), exploded to long form after it. Shared by
    :func:`check_constraints` and
    streaming.feed.constraint_check_stream."""
    aggs = [
        F.count(F.when(violation_expr(chk), 1)).alias(f"_v_{i}")
        for i, chk in enumerate(checks)
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(chk[0]).alias("check"),
                F.lit(chk[1]).alias("column"),
                F.col(f"_v_{i}").alias("n_violations"),
            )
            for i, chk in enumerate(checks)
        ]
    )
    return df.agg(*aggs).select(F.explode(rows).alias("_c")).select("_c.*")


def check_constraints(
    df: DataFrame, checks: Sequence[tuple]
) -> DataFrame:
    """Contract assertion over a table: each check is a tuple —

        ("not_null", col)            no NULLs
        ("unique", col)              no value occurs twice (nulls ignored)
        ("range", col, lo, hi)       lo <= col <= hi (nulls violate)
        ("in_set", col, values)      col in values (nulls violate)
        ("regex", col, pattern)      col rlike pattern (nulls violate)

    Output one row per check: (check, column, n_violations, passed) —
    the release gate reads ``passed``; the violation count sizes the
    cleanup. Counting (not sampling) keeps it exact; each non-unique
    check is a filter-count fused into one scan, unique is one
    key-grouped count."""
    if not checks:
        raise ValueError("checks must not be empty")
    fused = [chk for chk in checks if chk[0] != "unique"]
    parts = [fused_violation_counts(df, fused)] if fused else []
    for col in [chk[1] for chk in checks if chk[0] == "unique"]:
        dup = (
            df.where(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
            .agg(
                F.coalesce(F.sum("_n"), F.lit(0))
                .cast("long")
                .alias("n_violations")
            )
            .select(
                F.lit("unique").alias("check"),
                F.lit(col).alias("column"),
                "n_violations",
            )
        )
        parts.append(dup)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "check", "column", "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


def observed_constraints(
    df: DataFrame, checks: Sequence[tuple]
):
    """Zero-extra-scan contract validation: attach the (non-unique)
    constraint violation counters to ``df`` as Spark OBSERVED METRICS
    (the Observation API), so the contract is evaluated as a side
    effect of whatever action the pipeline already runs — its own
    write/collect — instead of a second scan. Returns
    ``(observed_df, fetch)``: run any action on ``observed_df``, then
    ``fetch()`` returns {(kind, column): n_violations}.

    The free-validation twin of :func:`check_constraints` (which
    prices a dedicated scan and also covers ``unique``); use this one
    inline in write paths, that one as the standalone gate."""
    from pyspark.sql import Observation

    if not checks:
        raise ValueError("checks must not be empty")
    aggs, names = [], []
    for i, chk in enumerate(checks):
        kind, col = chk[0], chk[1]
        if kind == "unique":
            raise ValueError(
                "unique needs a key-grouped count — use check_constraints"
            )
        aggs.append(
            F.count(F.when(violation_expr(chk), 1)).alias(f"v_{i}")
        )
        names.append((i, kind, col))
    if len({(k, c) for _, k, c in names}) != len(names):
        # fetch() keys by (kind, column); duplicates would silently
        # collapse to one count — refuse the ambiguity outright
        raise ValueError(
            "duplicate (kind, column) checks would collapse in fetch()"
            " — merge them or use check_constraints"
        )
    obs = Observation()
    observed = df.observe(obs, *aggs)

    def fetch() -> dict:
        got = obs.get
        return {
            (kind, col): int(got[f"v_{i}"]) for i, kind, col in names
        }

    return observed, fetch


class ContractViolationError(ValueError):
    """Raised by :func:`enforce_contract` when any check fails; carries
    the full per-check report rows in ``report``."""

    def __init__(self, message: str, report):
        super().__init__(message)
        self.report = report


def parse_contract(spec: str) -> list[tuple]:
    """Parse the CLI contract grammar into :func:`check_constraints`
    tuples. Entries separated by ``;``; fields by ``:``:

        not_null:doc_id; unique:doc_id; range:n_chars:1:100000;
        in_set:lang:en|fr|de; regex:doc_id:^[0-9]+$

    ``regex`` takes the REMAINDER verbatim after its second colon
    (patterns may themselves contain colons); ``in_set`` values split
    on ``|``; ``range`` bounds parse as floats."""
    checks: list[tuple] = []
    for raw in spec.split(";"):
        entry = raw.strip()
        if not entry:
            continue
        kind, _, rest = entry.partition(":")
        kind = kind.strip()
        if kind in ("not_null", "unique"):
            if not rest or ":" in rest:
                raise ValueError(f"{kind} takes exactly one column: {entry!r}")
            checks.append((kind, rest.strip()))
        elif kind == "range":
            col, _, bounds = rest.partition(":")
            lo, sep, hi = bounds.partition(":")
            if not sep:
                raise ValueError(f"range needs col:lo:hi: {entry!r}")
            checks.append((kind, col.strip(), float(lo), float(hi)))
        elif kind == "in_set":
            col, sep, vals = rest.partition(":")
            if not sep:
                raise ValueError(f"in_set needs col:v1|v2|...: {entry!r}")
            checks.append((kind, col.strip(), vals.split("|")))
        elif kind == "regex":
            col, sep, pat = rest.partition(":")
            if not sep:
                raise ValueError(f"regex needs col:pattern: {entry!r}")
            checks.append((kind, col.strip(), pat))
        else:
            raise ValueError(f"unknown check kind {kind!r} in {entry!r}")
    if not checks:
        raise ValueError(f"empty contract spec: {spec!r}")
    return checks


def format_contract(checks: Sequence[tuple]) -> str:
    """The inverse of :func:`parse_contract`: render check tuples back
    into the CLI spec grammar, so a :func:`suggest_constraints` result
    can be printed once, reviewed, and pinned verbatim as a
    ``--contract`` flag. ``parse_contract(format_contract(x))``
    round-trips (in_set values are str()-ed — the grammar is string
    typed — and range bounds render as floats, both exactly what
    parse_contract reads back). Raises on tokens that would corrupt
    the grammar: a column name containing ``;``/``:`` or flanking
    whitespace (any kind), an in_set value containing ``|``/``;``/
    ``:`` (or a FINAL in_set value with trailing whitespace — entry
    ends are stripped, so it would silently round-trip as its rstrip),
    or a regex pattern containing ``;`` or trailing whitespace
    (parse_contract splits entries on ``;`` and strips entry ends)."""
    parts = []
    for chk in checks:
        kind, col = chk[0], chk[1]
        if any(c in col for c in ";:") or col != col.strip():
            raise ValueError(f"column name not grammar-safe: {col!r}")
        if kind in ("not_null", "unique"):
            parts.append(f"{kind}:{col}")
        elif kind == "range":
            parts.append(f"range:{col}:{float(chk[2])!r}:{float(chk[3])!r}")
        elif kind == "in_set":
            vals = [str(v) for v in chk[2]]
            bad = [v for v in vals if any(c in v for c in "|;:")]
            if bad:
                raise ValueError(
                    f"in_set({col}) values not grammar-safe: {bad[:3]}"
                )
            # parse_contract strips entry ENDS, so trailing whitespace
            # on the LAST value silently round-trips as its rstrip —
            # a contract that rejects the very rows it was profiled
            # from (r15 ADVICE); mid-list values are interior and fine
            if vals and vals[-1] != vals[-1].rstrip():
                raise ValueError(
                    f"in_set({col}) final value has trailing whitespace "
                    f"(cannot round-trip): {vals[-1]!r}"
                )
            parts.append(f"in_set:{col}:" + "|".join(vals))
        elif kind == "regex":
            pat = str(chk[2])
            # ';' is the entry separator and parse_contract strips
            # entry ENDS — a ';' or trailing whitespace cannot
            # round-trip (leading whitespace is interior to the entry
            # after 'regex:col:' and survives fine)
            if ";" in pat or pat != pat.rstrip():
                raise ValueError(
                    f"regex({col}) pattern not grammar-safe: {pat!r}"
                )
            parts.append(f"regex:{col}:{pat}")
        else:
            raise ValueError(f"unknown check kind {kind!r}")
    if not parts:
        raise ValueError("empty checks")
    return "; ".join(parts)


def enforce_contract(df: DataFrame, checks: Sequence[tuple]) -> list:
    """Run :func:`check_constraints` and RAISE
    :class:`ContractViolationError` if any check fails — the abort
    gate a write path calls BEFORE committing output. Returns the
    report rows (check-count-sized) on success so callers can log
    them. The one-extra-scan standalone form; for free validation
    fused into an existing action use :func:`observed_constraints`."""
    rows = check_constraints(df, checks).collect()
    failed = [r for r in rows if not r["passed"]]
    if failed:
        detail = "; ".join(
            f"{r['check']}({r['column']}): {r['n_violations']} violations"
            for r in failed
        )
        raise ContractViolationError(
            f"contract failed — {len(failed)}/{len(rows)} checks: {detail}",
            rows,
        )
    return rows


def suggest_constraints(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    in_set_max: int = 16,
    range_slack: float = 0.0,
) -> list[tuple]:
    """Profile-driven contract SUGGESTION (the Deequ
    ConstraintSuggestion leg): run :func:`profile_columns` once and
    derive the checks the data currently satisfies —

    - ``not_null`` where the column has zero NULLs;
    - ``unique`` where distinct count == non-null row count;
    - ``range`` for NULL-free numeric columns (observed [min, max],
      widened by ``range_slack`` * span on each side so the first new
      row a hair past the observed extreme doesn't page anyone);
    - ``in_set`` for NULL-free string columns with <= ``in_set_max``
      distinct values (collected — bounded by in_set_max by
      construction).

    range/in_set are only suggested for columns with zero NULLs:
    :func:`violation_expr` counts NULL as a violation for both kinds
    (nullability is the separate ``not_null`` check), so suggesting
    them for a nullable column would emit a contract the PROFILED
    data itself fails — breaking the roundtrip guarantee below.

    Returns :func:`check_constraints` tuples, so the loop closes:
    ``enforce_contract(new_batch, suggest_constraints(blessed))`` is
    a one-line drift gate between a blessed snapshot and the next.
    Suggestions describe the PROFILED data — review before trusting
    (a unique suggestion from a small sample won't survive scale).

    Scale: one profile scan + one in_set_max-bounded distinct collect
    per qualifying string column."""
    prof = {r["column"]: r for r in profile_columns(df, cols).collect()}
    checks: list[tuple] = []
    for c, r in prof.items():
        if r["n_null"] == 0 and r["n"] > 0:
            checks.append(("not_null", c))
        if r["n_distinct"] == r["n"] - r["n_null"] and r["n"] > r["n_null"]:
            checks.append(("unique", c))
        if r["n_null"] > 0:
            continue  # range/in_set count NULL as a violation
        if r["min_num"] is not None and r["max_num"] is not None:
            span = r["max_num"] - r["min_num"]
            pad = span * range_slack
            checks.append(("range", c, r["min_num"] - pad, r["max_num"] + pad))
        elif (
            r["min_str"] is not None
            and 0 < r["n_distinct"] <= in_set_max
        ):
            vals = sorted(
                x[c]
                for x in df.select(c).where(F.col(c).isNotNull())
                .distinct()
                .collect()
            )
            checks.append(("in_set", c, vals))
    if not checks:
        raise ValueError("no suggestable constraints (empty profile?)")
    return checks


def schema_diff(spark, url_a: str, url_b: str) -> list[dict]:
    """Footer-only schema drift report between two parquet datasets:
    one dict per drifted column — ``{"column", "status"
    ('added'|'removed'|'type_changed'), "type_a", "type_b"}`` —
    reading ONLY the unified schemas (no data scan; the metadata
    sibling of :func:`operators.layout.manifest_diff`'s content
    triage). Empty list = schemas identical (order ignored; parquet
    column order is not semantic)."""
    a = {f.name: f.dataType.simpleString()
         for f in spark.read.parquet(url_a).schema}
    b = {f.name: f.dataType.simpleString()
         for f in spark.read.parquet(url_b).schema}
    out = []
    for c in sorted(set(a) | set(b)):
        if c not in b:
            out.append({"column": c, "status": "removed",
                        "type_a": a[c], "type_b": None})
        elif c not in a:
            out.append({"column": c, "status": "added",
                        "type_a": None, "type_b": b[c]})
        elif a[c] != b[c]:
            out.append({"column": c, "status": "type_changed",
                        "type_a": a[c], "type_b": b[c]})
    return out
