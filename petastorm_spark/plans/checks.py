"""Physical-plan inspection helpers: assert that the plan Catalyst
picked is the plan we designed for (pushdown reached the scan, small
sides broadcast, codegen covers the hot path).

Used by tests and the bench to keep 100 TB-relevant properties from
regressing silently — a correct-but-full-scan plan at sf0.1 is a
broken plan at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from parquet (projection pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols += [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
    return sorted(set(cols))


def _operators(df: DataFrame) -> dict[int, str]:
    """Operator id -> its detail section in ``df``'s formatted plan.
    The tree above the details repeats an operator once per path that
    reaches it (a cached relation under every scan of it), and the
    details may repeat a section, so everything that counts operators
    reads this map, one entry per id."""
    ops: dict[int, str] = {}
    for section in formatted_plan(df).split("\n\n"):
        m = re.match(r"\((\d+)\) ", section)
        if m:
            ops.setdefault(int(m.group(1)), section)
    return ops


def count_broadcast_joins(df: DataFrame) -> int:
    return sum(
        re.match(r"\(\d+\) BroadcastHashJoin\b", sec) is not None
        for sec in _operators(df).values()
    )


def exchanges(df: DataFrame) -> list[str]:
    """The partitioning of each shuffle ``Exchange`` operator in
    ``df``'s plan, in operator-id order: ``hashpartitioning``,
    ``rangepartitioning``, ``SinglePartition``, ... Spark prints
    ``Exchange (n)`` in the tree and the partitioning under the
    operator's ``Arguments:``; broadcast exchanges are not listed."""
    out = []
    for _, sec in sorted(_operators(df).items()):
        if re.match(r"\(\d+\) Exchange\n", sec):
            m = re.search(r"^Arguments: (\w+)", sec, re.M)
            out.append(m.group(1) if m else "")
    return out


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans in the EXECUTED plan (AQE
    only finalizes codegen stages at runtime, so this triggers one
    execution)."""
    df.collect()  # count() would plan a separate query; collect
    # finalizes THIS df's adaptive plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", executed)))
