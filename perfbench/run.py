"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It generates the workload's inputs from
the seed inside ``.perfbench_work/`` (removed at exit), measures for
``--seconds``, checks every output and prints, as its last stdout line,
one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it is a JSON object of details (sample
counts, versions, per-query walls, errors). Traced runs also write their
spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


# workload name -> (module, function)
WORKLOADS = {
    "tensor_rows": ("perfbench.readers", "tensor_rows"),
    "columnar_batches": ("perfbench.readers", "columnar_batches"),
    "tensor_write": ("perfbench.write", "tensor_write"),
    "curation_queries": ("perfbench.curation", "curation_queries"),
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let Spark's Python workers import the repository's packages."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the session factory defaults to a 48g heap, more than a small shared
    # machine should promise; the workloads need well under 2g
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    # A fixed set of JIT compiler threads, whose CPU the meter leaves out
    # (see harness.tree_cpu_s), and a heap that does not shrink: after the
    # full collection before each curation query a shrinking heap gives
    # pages back, and faulting them in again lands in the next query's CPU.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{heap} "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
    )


def _versions(cpus: int, java: str | None) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": cpus,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java,
    }


def _result_line(outcome, trace: bool) -> dict:
    wanted = PER_LAYER if trace else END_TO_END
    values = outcome.layers if trace else outcome.metrics
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in wanted.items()
    }
    return {
        "correct": outcome.failed == 0,
        "attempted": int(outcome.attempted),
        "failed": int(outcome.failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a small one)")
    args = ap.parse_args(argv)

    try:
        import petastorm_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import petastorm_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from perfbench.harness import Outcome, Run

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    cpus = _cpus()
    run = Run(ROOT, work, args.seed, args.seconds, bool(args.trace), cpus, args.scale)
    try:
        module, func = WORKLOADS[args.workload]
        outcome = getattr(importlib.import_module(module), func)(run)
    except Exception as exc:  # noqa: BLE001 - report the failure as a result
        run.record_error(args.workload, exc)
        outcome = Outcome({}, {}, 1, 1, {})
    finally:
        run.stop()
        run.mark("stop")
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, **_versions(cpus, run.java_version),
              **outcome.detail,
              "failed_ratio": outcome.failed / max(1, outcome.attempted),
              "phases_s": run.phases, "errors": run.errors}
    if run.tracer is not None:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.write(span_file)
        detail["spans"] = os.path.relpath(span_file, ROOT)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run still has its directory there
        pass
    print(json.dumps(detail, default=str))
    print(json.dumps(_result_line(outcome, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
