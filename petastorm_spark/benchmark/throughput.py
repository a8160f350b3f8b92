"""Measure Reader row/batch throughput on an existing dataset.

Parity surface: /root/reference/petastorm/benchmark/throughput.py
(reader_throughput: warmup cycles then timed cycles over an open
reader; RSS + CPU%% sampled around the measure window, lines 77-90).
Re-expressed: the Reader here is the two-tier Spark engine; pool types
map to reader_pool_type thread|process|dummy; RSS/CPU are summed over
the whole process tree (python + driver JVM + pool workers) via
procfs, since the engine's scan work lives in child processes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from petastorm_spark.benchmark.procstats import process_tree_sample, window_summary
from petastorm_spark.reader import make_batch_reader, make_reader


@dataclass
class BenchmarkResult:
    samples_per_second: float
    warmup_cycles: int
    measure_cycles: int
    batched: bool
    rss_mb: float | None = None  # process-tree RSS after the window
    cpu_pct: float | None = None  # process-tree CPU%% over the window
    # split of rss_mb: rss_main_mb (the benchmark process alone) is
    # the column comparable to the reference's single-process psutil
    # RSS; rss_iter_mb = tree minus java additionally includes Spark's
    # resident pyspark.daemon workers; rss_jvm_mb is the driver JVM
    rss_iter_mb: float | None = None
    rss_jvm_mb: float | None = None
    rss_main_mb: float | None = None


def reader_throughput(
    dataset_url: str,
    field_regex: list[str] | None = None,
    warmup_cycles: int = 200,
    measure_cycles: int = 1000,
    pool_type: str = "thread",
    workers_count: int = 3,
    read_method: str = "python",
    spark=None,
) -> BenchmarkResult:
    """Open a reader on ``dataset_url`` and measure read cycles/sec.

    ``read_method``: 'python' iterates decoded rows via make_reader;
    'batch' iterates column-vector row-group batches via
    make_batch_reader (one cycle = one batch).
    """
    if read_method not in ("python", "batch"):
        raise ValueError(f"unsupported read_method {read_method!r}")
    factory = make_reader if read_method == "python" else make_batch_reader
    with factory(
        dataset_url,
        spark=spark,
        schema_fields=field_regex,
        reader_pool_type=pool_type,
        workers_count=workers_count,
        num_epochs=None,
    ) as reader:
        it = iter(reader)
        for _ in range(warmup_cycles):
            next(it)
        before = process_tree_sample()
        t0 = time.perf_counter()
        for _ in range(measure_cycles):
            next(it)
        dt = time.perf_counter() - t0
        after = process_tree_sample()
    return BenchmarkResult(
        samples_per_second=measure_cycles / dt,
        warmup_cycles=warmup_cycles,
        measure_cycles=measure_cycles,
        batched=read_method == "batch",
        **window_summary(before, after, dt),
    )
