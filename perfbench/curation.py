"""``curation_queries``: registry queries over a seed-generated star
schema, each constructed and then fully executed into a ``noop`` sink.

The first pass is untimed: it collects every result and compares it
with the query's DuckDB oracle (``queries.ORACLE``) under
``tools/check_correctness.py``'s canonicalisation; it and two more
untimed passes warm the JVM. Timed passes follow, at least four and
about ``--seconds`` of query wall. The cache is cleared and the JVM
collected before each query, outside its timer and its CPU interval."""

from __future__ import annotations

import importlib.util
import math
import os
import statistics
import time

from perfbench import data
from perfbench.harness import (
    CpuMeter,
    Outcome,
    Window,
    add_counters,
    jvm_gc,
    spark_counters,
)
from perfbench.metrics import QUERY_NAMES
from perfbench.trace import Tracer, install_reader_layers, reader_layers

WARMUP_PASSES = 2


def _checker(root: str):
    """``tools/check_correctness.py`` as a module (canon, values_equal)."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def compare(checker, got, want) -> list[str]:
    """Problems between a Spark result and its oracle, by the rules of
    ``tools/check_correctness.py``: same columns, no int/float kind drift,
    same row count, equal values after canonical sorting."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    problems = []
    for c in got.columns:
        kinds = {str(got[c].dtype)[:3], str(want[c].dtype)[:3]}
        if kinds in ({"int", "flo"}, {"uin", "flo"}):
            problems.append(f"dtype kind mismatch in {c}")
    if len(got) != len(want):
        problems.append(f"rows {len(got)} != oracle {len(want)}")
    if problems:
        return problems
    a, b = checker.canon(got), checker.canon(want)
    bad = sum(
        not checker.values_equal(a.at[i, c], b.at[i, c])
        for i in range(len(a))
        for c in a.columns
    )
    return [f"{bad} values differ from the oracle"] if bad else []


def curation_queries(run) -> Outcome:
    import duckdb

    path = os.path.join(run.work, "star")
    get_spark_s, session_cost = run.start_session()
    run.mark("session")
    tables = data.write_star_schema(path, run.seed, run.scale)
    run.mark("generate")
    # the registry imports once per process: one measured construction
    meter = CpuMeter()
    meter.start()
    from petastorm_spark.queries import ORACLE, QUERIES

    setup_s = session_cost + meter.lap(1)
    run.mark("setup")
    spark = run.spark
    sc = spark.sparkContext
    failed_names: set[str] = set()
    attempted = failed = 0

    checker = _checker(run.root)
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{path}/{name}.parquet'"
        )
    for name in QUERY_NAMES:
        attempted += 1
        try:
            got = QUERIES[name](spark, path).toPandas()
            problems = compare(checker, got, con.execute(ORACLE[name]).fetchdf())
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            run.record_error(f"{name} check", exc)
            problems = ["raised"]
        if problems:
            failed += 1
            failed_names.add(name)
            run.errors.extend(f"{name}: {p}" for p in problems[:3])
    con.close()
    spark.catalog.clearCache()
    run.mark("check")

    def one_pass(label: str, meter: CpuMeter | None = None) -> dict[str, dict]:
        """Construct and execute every query once; walls per query and,
        with ``meter``, each query's normalised CPU seconds."""
        nonlocal attempted, failed
        out = {}
        for name in QUERY_NAMES:
            attempted += 1
            spark.catalog.clearCache()
            jvm_gc(spark)
            group = f"perfbench-{label}-{name}"
            try:
                sc.setJobGroup(group + "-construct", name)
                if meter:
                    meter.start()
                t0 = time.perf_counter()
                df = QUERIES[name](spark, path)
                t1 = time.perf_counter()
                sc.setJobGroup(group + "-execute", name)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                cost = meter.lap(1) if meter else None
            except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
                run.record_error(f"{name} {label}", exc)
                failed += 1
                continue
            if name in failed_names:
                failed += 1
            out[name] = {"construct_s": t1 - t0, "execute_s": t2 - t1,
                         "cost": cost, "group": group}
        spark.catalog.clearCache()
        return out

    # The check pass runs each query cold; the passes after it still
    # cost more while the JVM loads and compiles, and are not timed.
    for i in range(WARMUP_PASSES):
        one_pass(f"warmup{i}")
    run.mark("warmup")
    # The first timed pass sizes the window to about ``--seconds``; there
    # are at least four passes.
    meter = CpuMeter()
    with Window() as timed:
        passes = [one_pass("timed0", meter)]
        first = sum(w["construct_s"] + w["execute_s"] for w in passes[0].values())
        for i in range(1, max(4, round(run.seconds / max(first, 1e-3)))):
            passes.append(one_pass(f"timed{i}", meter))
    run.mark("timed")

    def per_query(key) -> dict[str, float]:
        return {
            name: statistics.median(key(p[name]) for p in passes if name in p)
            for name in QUERY_NAMES
            if any(name in p for p in passes)
        }

    walls = per_query(lambda w: w["construct_s"] + w["execute_s"])
    medians = list(walls.values()) or [float("inf")]
    # a pass's cost is the mean normalised CPU of its queries (single
    # queries vary more from pass to pass than their sum does); the median
    # pass, as a pass that still runs warm-up work reads high
    pass_costs = [statistics.fmean(w["cost"] for w in p.values()) for p in passes if p]
    metrics = {
        "cpu_ms_per_item": statistics.median(pass_costs) * 1e3 if pass_costs else 0.0,
        "setup_s": setup_s,
        "py_rss_mb": timed.rss_mb,
    }
    detail = {
        "tables": tables,
        "passes": len(passes),
        "query_total_s": sum(medians),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in medians)),
        "query_wall_s": walls,
        "query_cpu_ms": per_query(lambda w: w["cost"] * 1e3),
        "pass_cpu_ms_per_query": [round(c * 1e3, 1) for c in pass_costs],
        "cal_ms": meter.cal_ms(),
        "get_spark_wall_s": get_spark_s,
        "steal_s": timed.steal_s,
    }

    layers: dict = {}
    if run.trace:
        tracer = Tracer()
        with tracer:
            install_reader_layers(tracer)
            t_start = time.perf_counter()
            traced = one_pass("traced", CpuMeter())
            t_wall = time.perf_counter() - t_start
        spark_total: dict = {}
        for name, w in traced.items():
            construct = spark_counters(spark, w["group"] + "-construct")
            execute = spark_counters(spark, w["group"] + "-execute")
            add_counters(add_counters(spark_total, construct), execute)
            layers.update({
                f"query.{name}.construct_s": w["construct_s"],
                f"query.{name}.construct_jobs": construct["jobs"],
                f"query.{name}.execute_s": w["execute_s"],
                f"query.{name}.tasks": construct["tasks"] + execute["tasks"],
                f"query.{name}.executor_cpu_s": (
                    construct["executor_cpu_s"] + execute["executor_cpu_s"]
                ),
                f"query.{name}.shuffle_bytes": (
                    construct["shuffle_write_bytes"] + execute["shuffle_write_bytes"]
                ),
            })
        layers.update(reader_layers(tracer, run.cpus, t_wall))
        layers.update({f"spark.{k}": v for k, v in spark_total.items()})
        traced_walls = sum(w["construct_s"] + w["execute_s"] for w in traced.values())
        traced_rate = len(traced) / traced_walls if traced_walls else 0.0
        traced_cost = sum(w["cost"] for w in traced.values()) / max(1, len(traced))
        layers.update({
            "session.get_spark_s": get_spark_s,
            "trace.items_per_s": traced_rate,
            "trace.overhead_ratio": (
                traced_cost * 1e3 / metrics["cpu_ms_per_item"]
                if metrics["cpu_ms_per_item"] else 0.0
            ),
        })
        run.tracer = tracer
        run.mark("traced")
    return Outcome(metrics, layers, attempted, failed, detail)
