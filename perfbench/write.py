"""``tensor_write``: the canonical petastorm write path (as in
``examples/hello_world.py``) with the ``tensor_rows`` schema.

One step is one dataset write: ``parallelize(range(N), nproc)`` mapped
through the row generator and ``dict_to_spark_row``, ``createDataFrame``
and ``write.parquet``, all inside ``materialize_dataset``, whose exit
scans the row-group counts and writes the sidecar and the
petastorm-compat footer. Each write is read back with pyarrow (not the
library's reader) after its timer stops."""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import data
from perfbench.harness import (
    CpuMeter,
    Outcome,
    Window,
    add_counters,
    dir_bytes,
    percentile_ms,
    spark_counters,
)
from perfbench.metrics import CODECS

ROWS_PER_WRITE = 480
ROW_GROUP_MB = 1
WARMUP_WRITES = 5

_SCHEMA = None


def _worker_schema():
    """The schema, built once per Python worker (never pickled)."""
    global _SCHEMA
    if _SCHEMA is None:
        _SCHEMA = data.tensor_schema()
    return _SCHEMA


def _timed_encode(codec, accs):
    name = type(codec).__name__
    encode = type(codec).encode

    def timed(field, value):
        t0 = time.perf_counter()
        out = encode(codec, field, value)
        accs[f"codecs.{name}.encode.busy_s"].add(time.perf_counter() - t0)
        accs[f"codecs.{name}.encode.calls"].add(1)
        return out

    return timed


def to_spark_row(seed: int, accs, row_id: int):
    """Row function run by Spark's Python workers. With ``accs`` (the
    traced run) it also times ``dict_to_spark_row`` and each codec's
    ``encode`` into Spark accumulators."""
    from petastorm_spark.unischema import dict_to_spark_row

    schema = _worker_schema()
    row = data.tensor_row(seed, row_id)
    if accs is None:
        return dict_to_spark_row(schema, row)
    codecs = [f.codec for f in schema.fields.values()
              if type(f.codec).__name__ in CODECS]
    for codec in codecs:
        codec.encode = _timed_encode(codec, accs)
    try:
        t0 = time.perf_counter()
        out = dict_to_spark_row(schema, row)
        accs["unischema.dict_to_spark_row.busy_s"].add(time.perf_counter() - t0)
    finally:
        for codec in codecs:
            del codec.encode
    return out


def check_written(path: str, first_id: int, n_rows: int) -> tuple[list[str], int]:
    """Read a written dataset back with pyarrow. Returns (problems, row
    groups): the row count and id sum must match what was written, and
    the footers' row-group counts must match the sidecar and the
    petastorm-compat ``_common_metadata``."""
    from petastorm_spark.etl.dataset_metadata import SIDECAR_NAME
    from petastorm_spark.etl.petastorm_compat import ROW_GROUPS_KEY

    problems = []
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    footer_rgs = {f: pq.ParquetFile(os.path.join(path, f)).metadata.num_row_groups
                  for f in files}
    ids = pq.read_table(path, columns=["id"])["id"].to_numpy()
    if len(ids) != n_rows:
        problems.append(f"read back {len(ids)} rows, wrote {n_rows}")
    expected_sum = n_rows * first_id + n_rows * (n_rows - 1) // 2
    if int(ids.sum()) != expected_sum:
        problems.append("read-back id sum differs")
    sidecar = os.path.join(path, SIDECAR_NAME)
    if not os.path.exists(sidecar):
        problems.append("sidecar missing")
    else:
        with open(sidecar) as f:
            if json.load(f).get("row_groups") != footer_rgs:
                problems.append("sidecar row-group counts differ from footers")
    compat = pq.read_schema(os.path.join(path, "_common_metadata")).metadata or {}
    if json.loads(compat.get(ROW_GROUPS_KEY, b"{}")) != footer_rgs:
        problems.append("compat footer row-group counts differ from footers")
    return problems, sum(footer_rgs.values())


def tensor_write(run) -> Outcome:
    from petastorm_spark.etl.dataset_metadata import materialize_dataset

    schema = data.tensor_schema()
    spark_schema = schema.as_spark_schema()
    n_rows = max(run.cpus * 8, int(ROWS_PER_WRITE * run.scale))
    out_root = os.path.join(run.work, "write")
    get_spark_s, session_cost = run.start_session()
    run.mark("session")

    def build(first_id: int, accs=None):
        rdd = (
            run.spark.sparkContext.parallelize(
                range(first_id, first_id + n_rows), run.cpus
            )
            .map(functools.partial(to_spark_row, run.seed, accs))
        )
        return run.spark.createDataFrame(rdd, spark_schema)

    def construct():
        t0 = time.perf_counter()
        build(0)
        return time.perf_counter() - t0

    setup_s, _ = run.setup(session_cost, construct)
    run.mark("setup")
    attempted = failed = 0
    next_id = 0

    def write_once(accs=None, meter: CpuMeter | None = None) -> dict:
        """One checked write; returns its walls and counters. With
        ``meter``, the write (not its check) is one meter interval."""
        nonlocal attempted, failed, next_id
        first_id, next_id = next_id, next_id + n_rows
        path = os.path.join(out_root, f"ds{first_id}")
        group = f"perfbench-write-{first_id}"
        attempted += 1
        try:
            df = build(first_id, accs)
            run.spark.sparkContext.setJobGroup(group, "tensor_write")
            if meter:
                meter.start()
            t0 = time.perf_counter()
            with materialize_dataset(run.spark, "file://" + path, schema,
                                     ROW_GROUP_MB):
                df.write.mode("overwrite").parquet("file://" + path)
                t_body = time.perf_counter()
            t_end = time.perf_counter()
            if meter:
                meter.lap(n_rows)
            problems, rgs = check_written(path, first_id, n_rows)
            nbytes = dir_bytes(path)
        except Exception as exc:  # noqa: BLE001 - a failed write must not end the run
            run.record_error(f"write {first_id}", exc)
            failed += 1
            return {"wall": None}
        finally:
            shutil.rmtree(path, ignore_errors=True)
        if problems:
            failed += 1
            run.errors.extend(problems[:5])
        out = {"wall": t_end - t0, "exit": t_end - t_body, "rowgroups": rgs,
               "bytes": nbytes}
        if accs is not None:  # the traced window reads the status store
            out["spark"] = spark_counters(run.spark, group)
        return out

    def window(meter: CpuMeter, accs=None) -> list[dict]:
        """Writes until ``--seconds`` of write wall have been measured."""
        done: list[dict] = []
        spent = 0.0
        errors = 0
        while (spent < run.seconds or not done) and errors < 3:
            w = write_once(accs, meter)
            if w["wall"] is None:
                errors += 1
                continue
            done.append(w)
            spent += w["wall"]
        return done

    # warm-up: the first write forks the Python workers, and the next few
    # cost more while the JVM loads and compiles the write path
    for _ in range(WARMUP_WRITES):
        write_once()
    run.mark("warmup")
    meter = CpuMeter()
    with Window() as timed:
        writes = window(meter)
    run.mark("timed")
    walls = [w["wall"] for w in writes] or [float("inf")]
    rows_per_s = n_rows / statistics.median(walls)
    metrics = {
        # the typical write's normalised CPU per row written
        "cpu_ms_per_item": meter.typical_ms(),
        "setup_s": setup_s,
        "py_rss_mb": timed.rss_mb,
    }
    detail = {"rows_per_write": n_rows, "writes": len(writes),
              "write_rows_per_s": rows_per_s,
              "write_p50_ms": percentile_ms(walls, 50),
              "write_p95_ms": percentile_ms(walls, 95),
              "get_spark_wall_s": get_spark_s,
              "write_cpu_ms_per_item": [round(c * 1e3, 5) for c in meter.costs],
              "cal_ms": meter.cal_ms(),
              "steal_s": timed.steal_s}

    layers: dict = {}
    if run.trace:
        sc = run.spark.sparkContext
        keys = ["unischema.dict_to_spark_row.busy_s"] + [
            f"codecs.{c}.encode.{k}" for c in CODECS for k in ("calls", "busy_s")
        ]
        accs = {k: sc.accumulator(0.0) for k in keys}
        t_meter = CpuMeter()
        traced = window(t_meter, accs)
        t_walls = [w["wall"] for w in traced] or [float("inf")]
        traced_rate = n_rows / statistics.median(t_walls)
        spark_total: dict = {}
        for w in traced:
            add_counters(spark_total, w["spark"])
        layers = {k: a.value for k, a in accs.items()}
        layers.update({f"spark.{k}": v for k, v in spark_total.items()})
        layers.update({
            "session.get_spark_s": get_spark_s,
            "etl.materialize_exit_s": sum(w["exit"] for w in traced),
            "etl.rowgroups_written": sum(w["rowgroups"] for w in traced),
            "etl.bytes_written": sum(w["bytes"] for w in traced),
            "trace.items_per_s": traced_rate,
            "trace.overhead_ratio": (
                t_meter.typical_ms() / metrics["cpu_ms_per_item"]
                if metrics["cpu_ms_per_item"] else 0.0
            ),
        })
        detail["traced_writes"] = len(t_walls)
        run.mark("traced")
    return Outcome(metrics, layers, attempted, failed, detail)
