"""Order-dependent per-key folds, and the one helper that runs them.

``fold_by_key`` owns the per-key stateful plumbing for every fold in
the package: it gathers a key's rows into one pandas frame, sorts it
once by the fold's order columns, calls the fold's ``step`` and
prepends the key column typed from the frame's schema. On a streaming
frame it is the package's only pandas-with-state grouped map (one
frame per key per micro-batch, however many Arrow chunks carried it;
state in the state store); on a batch frame it runs ``applyInPandas``
with no prior state. A streaming twin and its batch operator that
share a step are the SAME fold by construction, so an ``availableNow``
run over a static directory reproduces the batch result.

The EWMA (e_i = a*v_i + (1-a)*e_{i-1}) is the canonical fold — a
sequential update no built-in SQL aggregate expresses:
``ewma_by_key`` runs it over a batch frame, and
``streaming.feed.running_ewma_stream`` runs the same call over a
stream, with state = (count, ewma, last_ts) per key.

Order contract (ties): values fold in (ts, value) order — a total
order up to interchangeable duplicates, so the fold result is
deterministic and the DuckDB oracle (list_reduce over
list(value ORDER BY ts, value)) reproduces it bit-for-bit.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers compose)


def ts_as_int(v) -> int:
    """Event-time scalar -> int for the bigint ``last_ts`` output:
    integral values pass through; pandas/numpy datetimes become
    epoch-microseconds (matching DuckDB's ``epoch_us``)."""
    if isinstance(v, pd.Timestamp):
        return v.value // 1000  # pandas stores ns; emit µs
    if isinstance(v, np.datetime64):
        return int(v.astype("datetime64[us]").astype(np.int64))
    return int(v)


def fold_by_key(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    step: Callable,
    out_schema: str,
    state_schema: str,
    output_mode: str = "update",
) -> DataFrame:
    """Run ``step(state_or_None, batch) -> (new_state_or_None, out)``
    once per key over ``df`` grouped by ``key_col``.

    ``batch`` holds all of the key's rows in the micro-batch (the whole
    group on a batch frame), sorted once by ``order_cols``; it may be
    empty. ``state`` is the key's stored state tuple, or None when
    there is none (always None on a batch frame); a non-None returned
    state replaces it. ``out`` is a pandas frame with the columns of
    ``out_schema`` in order; the key column is prepended, typed from
    ``df``'s schema. ``state_schema`` and ``output_mode`` only apply to
    streaming frames."""
    key_type = df.schema[key_col].dataType.simpleString()
    schema = f"{key_col} {key_type}, {out_schema}"
    columns = df.columns

    def run(key, batch, state):
        if order_cols:
            batch = batch.sort_values(order_cols)
        new_state, out = step(state, batch)
        out.insert(0, key_col, key[0])
        return new_state, out

    grouped = df.groupBy(key_col)
    if not df.isStreaming:
        return grouped.applyInPandas(
            lambda key, pdf: run(key, pdf, None)[1], schema
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdfs, state):
        chunks = list(pdfs)  # pd.concat raises on an empty iterator
        batch = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.DataFrame(columns=columns)
        )
        new_state, out = run(key, batch, state.get if state.exists else None)
        if new_state is not None:
            state.update(new_state)
        yield out

    return grouped.applyInPandasWithState(
        fold, schema, state_schema, output_mode, GroupStateTimeout.NoTimeout
    )


def ewma_update(
    values: np.ndarray, alpha: float, prev: float | None
) -> float | None:
    """Fold ``values`` (already in event order) into a running EWMA.

    Closed form instead of a per-row loop:
      e_n = (1-a)^n * e_prev + a * sum_i (1-a)^(n-1-i) * v_i
    with e_0 = v_0 when there is no prior state (pandas ewm
    ``adjust=False`` convention).
    """
    v = np.asarray(values, dtype=np.float64)
    if v.size == 0:
        return prev
    if prev is None:
        prev_val, v = float(v[0]), v[1:]
        if v.size == 0:
            return prev_val
    else:
        prev_val = float(prev)
    n = v.size
    decay = np.power(1.0 - alpha, np.arange(n - 1, -1, -1, dtype=np.float64))
    return float((1.0 - alpha) ** n * prev_val + alpha * np.dot(decay, v))


def ewma_by_key(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key EWMA in (ts, value) order: key, n_events, ewma, last_ts.
    On a streaming frame the fold carries (count, ewma, last_ts) across
    micro-batches and emits each key's updated row (update mode).
    Scale: one hash shuffle on the key; the fold itself is a vectorized
    Arrow-batched pandas function per group."""

    def step(state, batch):
        cnt, ewma, last = (0, None, None) if state is None else state
        if len(batch):
            ewma = ewma_update(batch[value_col].to_numpy(), alpha, ewma)
            cnt += len(batch)
            last = ts_as_int(batch[ts_col].iloc[-1])
        out = pd.DataFrame(
            {"n_events": [cnt], "ewma": [ewma], "last_ts": [last]}
        )
        return (cnt, ewma, last), out

    return fold_by_key(
        df.select(key_col, ts_col, value_col),
        key_col,
        [ts_col, value_col],
        step,
        "n_events bigint, ewma double, last_ts bigint",
        "cnt bigint, ewma double, last_ts bigint",
    )


def cusum_scores(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    target,
    tie_col: str | None = None,
) -> DataFrame:
    """Per-key CUSUM change-point scores via the prefix identity —
    ``s_i = max(0, s_{i-1} + (x_i - target))`` equals
    ``prefix_i - min(prefix_0..i)`` where ``prefix`` is the running
    sum of ``(x - target)`` — so the classic sequential drift monitor
    becomes TWO window aggregates (cumulative sum + running min), no
    fold, no UDF, engine-reproducible. Emits every event's upward
    CUSUM score; filter/max downstream for alarms.

    Output: input rows + ``cusum`` (same type as the running sum).
    Feed INTEGER deviations (e.g. micro-units) when cross-engine
    exactness matters: integer prefix sums are exact, while double
    windowed sums differ in the last ulp between engines (DuckDB's
    segment-tree summation order). Scale: one key shuffle +
    partition-local sort, both windows share the exchange.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(key_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = F.col(value_col) - target
    prefix = F.sum(dev).over(w)
    # Spark cannot nest window functions: materialize prefix first
    out = df.withColumn("_prefix", prefix)
    w2 = Window.partitionBy(key_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cusum = F.col("_prefix") - F.least(
        F.min("_prefix").over(w2), F.lit(0).cast("bigint")
        if dict(df.dtypes)[value_col] in ("bigint", "int")
        else F.lit(0.0)
    )
    return out.withColumn("cusum", cusum).drop("_prefix")
