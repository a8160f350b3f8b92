"""Reader workloads: ``tensor_rows`` (make_reader over codec-encoded
tensors) and ``columnar_batches`` (make_batch_reader over a plain Parquet
store, fed through the torch bridge's BatchedDataLoader). Each runs a
closed loop: one consumer that waits for every batch before asking for
the next.

The timed passes read synchronously (``workers_count=1``). Through the
library's thread pool (``workers_count`` = CPU count) the per-row CPU of
tensor_rows was about 1.6 times the synchronous one and varied three
times as much or more from run to run (interquartile spread 0.13 of the
median over five seeds, against 0.02-0.04 over ten), and on
columnar_batches the pool's peak RSS moved by 4% between runs: more than
the bounds can hold. The traced run
times one more pass through the pool and reports its wall rate and its
ratio to the synchronous one."""

from __future__ import annotations

import dataclasses
import hashlib
import math
import os
import time
from collections import Counter

import numpy as np

from perfbench import data
from perfbench.harness import CpuMeter, Outcome, Window, percentile_ms
from perfbench.trace import (
    TracedIterable,
    Tracer,
    install_reader_layers,
    reader_layers,
)

# sizes at scale 1.0
TENSOR_ROWS = 1200
TENSOR_RG_ROWS = 80
TENSOR_FILES = 3
STEP_ROWS = 8
COLUMNAR_FILES = 8
COLUMNAR_RGS_PER_FILE = 5
COLUMNAR_RG_ROWS = 4096
LOADER_BATCH = 1024
SPLIT = [0.8, 0.2]
CHECK_SAMPLES = 16
WORKERS = 1  # timed passes read synchronously; see the module docstring


def whole_epochs(iterable, rows_of, per_epoch: int, seconds: float,
                 on_epoch=None):
    """Items of an endless reader stream until ``seconds`` have passed
    since the first request, then on to the next epoch boundary (every
    ``per_epoch`` rows), so a pass always covers whole epochs and its
    output can be checked exactly. A stream that never lands on a
    boundary (lost or extra rows) is cut off after a grace period and
    then fails its check. ``on_epoch()`` is called at every boundary, when
    the next item is asked for. Closes the stream when done."""
    it = iter(iterable)
    try:
        deadline = time.perf_counter() + seconds
        cutoff = deadline + max(30.0, 2 * seconds)
        rows = 0
        for item in it:
            yield item
            rows += rows_of(item)
            now = time.perf_counter()
            if rows % per_epoch == 0:
                if on_epoch is not None:
                    on_epoch()
                if now >= deadline:
                    return
            if now >= cutoff:
                return
    finally:
        close = getattr(it, "close", None)
        if close is not None:
            close()


@dataclasses.dataclass
class Pass:
    """What the consumer saw in one pass: per step, the wait and how many
    items it brought; then the checks' findings."""

    start: float = 0.0
    waits: list = dataclasses.field(default_factory=list)
    sizes: list = dataclasses.field(default_factory=list)
    wall: float = 0.0
    epochs: int = 0
    problems: list = dataclasses.field(default_factory=list)

    def step(self, t0: float, t1: float, items: int) -> None:
        self.waits.append(t1 - t0)
        self.sizes.append(items)

    @property
    def items(self) -> int:
        return sum(self.sizes)

    @property
    def rate(self) -> float:
        return self.items / self.wall if self.wall else 0.0


def _measure(run, make, one_pass, session: tuple[float, float], n_rgs: int,
             detail: dict, traced_layers) -> Outcome:
    """The protocol both reader workloads share.

    1. setup_s: the session start plus the median of three reader
       constructions, in normalised CPU seconds;
    2. a one-epoch warm-up pass, checked;
    3. the timed pass, untraced, checked: ``--seconds`` and then up to
       the next epoch boundary (see :func:`whole_epochs`). Every epoch is
       one :class:`CpuMeter` interval; cpu_ms_per_item is the median
       epoch's normalised CPU per row delivered;
    4. with ``--trace 1``, the same pass again under the tracer, and
       one more, untraced, through the thread pool with ``workers_count``
       set to the CPU count.

    ``make(workers)`` returns a reader and ``one_pass(seconds, tracer,
    workers, meter)`` a :class:`Pass`."""

    get_spark_s, session_cost = session

    def construct():
        t0 = time.perf_counter()
        reader = make(WORKERS)
        wall = time.perf_counter() - t0
        reader.close()
        return wall

    setup_s, construct_s = run.setup(session_cost, construct)
    run.mark("setup")
    attempted = failed = 0

    def account(p: Pass) -> None:
        nonlocal attempted, failed
        steps = max(1, len(p.waits))
        attempted += steps
        if p.problems:
            failed += steps
            run.errors.extend(p.problems[:5])

    account(one_pass(0, None, WORKERS, None))
    run.mark("warmup")

    meter = CpuMeter()
    with Window() as window:
        timed = one_pass(run.seconds, None, WORKERS, meter)
    account(timed)
    run.mark("timed")
    waits = timed.waits or [0.0]
    metrics = {
        "cpu_ms_per_item": meter.typical_ms(),
        "setup_s": setup_s,
        "py_rss_mb": window.rss_mb,
    }
    detail.update(
        epochs=timed.epochs, steps=len(timed.waits), samples_per_s=timed.rate,
        step_wait_p50_ms=percentile_ms(waits, 50),
        step_wait_p95_ms=percentile_ms(waits, 95),
        get_spark_wall_s=get_spark_s, steal_s=window.steal_s,
        epoch_cpu_ms_per_item=[round(c * 1e3, 5) for c in meter.costs],
        cal_ms=meter.cal_ms(),
    )

    layers: dict = {}
    if run.trace:
        tracer = Tracer()
        t_meter = CpuMeter()
        with tracer:
            install_reader_layers(tracer)
            traced = one_pass(run.seconds, tracer, WORKERS, t_meter)
        account(traced)
        pooled = one_pass(run.seconds, None, run.cpus, None)
        account(pooled)
        # the planned piece list is not public; read it off one reader
        probe = make(WORKERS)
        pieces = len(probe._pieces)
        probe.close()
        layers = reader_layers(tracer, WORKERS, traced.wall)
        layers.update({
            "session.get_spark_s": get_spark_s,
            "reader.construct_s": construct_s,
            "reader.pieces": pieces,
            "reader.pieces_kept_ratio": pieces / n_rgs,
            "trace.items_per_s": traced.rate,
            "trace.overhead_ratio": (
                t_meter.typical_ms() / metrics["cpu_ms_per_item"]
                if metrics["cpu_ms_per_item"] else 0.0
            ),
            "reader.pool_items_per_s": pooled.rate,
            "reader.pool_speedup": pooled.rate / timed.rate if timed.rate else 0.0,
        })
        layers.update(traced_layers(tracer, traced))
        detail["pool_workers"] = run.cpus
        run.tracer = tracer
        run.mark("traced")
    return Outcome(metrics, layers, attempted, failed, detail)


# ---------------------------------------------------------------------------
# tensor_rows
# ---------------------------------------------------------------------------


def split_ids(n_rows: int) -> list[int]:
    """Ids in subset 0 of the 80/20 split, computed independently of the
    library: md5 of the decimal id, first 15 hex digits over 16**15."""
    keep = []
    for i in range(n_rows):
        frac = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) / 16**15
        if frac < SPLIT[0]:
            keep.append(i)
    return keep


def multiset_digest(ids) -> str:
    counts = sorted(Counter(int(i) for i in ids).items())
    return hashlib.md5(repr(counts).encode()).hexdigest()


def _add_norm(pdf):
    pdf = pdf.copy()
    pdf["feature_norm"] = [np.float32(np.linalg.norm(v)) for v in pdf["feature"]]
    return pdf


def check_tensor_rows(seed: int, delivered_ids, expected_digest: str,
                      samples) -> list[str]:
    """Problems found in one pass: the delivered id multiset against the
    expected digest, and sampled rows against the generator's arrays."""
    problems = []
    if multiset_digest(delivered_ids) != expected_digest:
        problems.append("delivered id multiset differs from the split")
    for row in samples:
        want = data.tensor_row(seed, int(row.id))
        for name in ("image", "feature", "mask"):
            got = getattr(row, name)
            if got.dtype != want[name].dtype or not np.array_equal(got, want[name]):
                problems.append(f"row {row.id}: decoded {name} differs")
        if int(row.label) != int(want["label"]):
            problems.append(f"row {row.id}: label differs")
        if not np.isclose(row.feature_norm, np.linalg.norm(want["feature"]),
                          rtol=1e-5):
            problems.append(f"row {row.id}: transformed feature_norm differs")
    return problems


def tensor_rows(run) -> Outcome:
    from petastorm_spark.predicates import in_pseudorandom_split
    from petastorm_spark.reader import make_reader
    from petastorm_spark.transform import TransformSpec

    n_rows = max(4 * TENSOR_RG_ROWS, int(TENSOR_ROWS * run.scale))
    path = os.path.join(run.work, "tensor_rows")
    session = run.start_session()
    run.mark("session")
    data.write_tensor_dataset(
        run.spark, path, run.seed, n_rows, TENSOR_RG_ROWS, TENSOR_FILES
    )
    url = "file://" + path
    subset = split_ids(n_rows)
    run.mark("generate")
    n_rgs = sum(
        math.ceil(n / TENSOR_RG_ROWS)
        for n in np.diff(np.linspace(0, n_rows, TENSOR_FILES + 1).astype(int))
    )

    def make(workers: int):
        return make_reader(
            url,
            spark=run.spark,
            predicate=in_pseudorandom_split(SPLIT, 0, "id"),
            transform_spec=TransformSpec(
                _add_norm, edit_fields=[("feature_norm", np.float32, (), False)]
            ),
            shuffle_row_groups=True,
            seed=run.seed,
            workers_count=workers,
            num_epochs=None,
        )

    def one_pass(seconds: float, tracer: Tracer | None, workers: int,
                 meter: CpuMeter | None) -> Pass:
        p = Pass()
        ids, samples = [], []
        try:
            with make(workers) as reader:
                rows = whole_epochs(
                    reader, lambda row: 1, len(subset), seconds,
                    (lambda: meter.lap(len(subset))) if meter else None,
                )
                if meter:
                    meter.start()
                p.start = time.perf_counter()
                while True:
                    t0 = time.perf_counter()
                    batch = [row for _, row in zip(range(STEP_ROWS), rows)]
                    t1 = time.perf_counter()
                    if not batch:
                        break
                    p.step(t0, t1, len(batch))
                    ids.extend(row.id for row in batch)
                    if len(samples) < CHECK_SAMPLES and len(p.waits) % 3 == 1:
                        samples.append(batch[0])
                p.wall = time.perf_counter() - p.start
                rows.close()
        except Exception as exc:  # noqa: BLE001 - a failed pass must not end the run
            p.problems.append(f"tensor_rows pass: {type(exc).__name__}: {exc}")
            return p
        p.epochs = len(ids) // len(subset)
        expected = multiset_digest(subset * p.epochs)
        p.problems = check_tensor_rows(run.seed, ids, expected, samples)
        return p

    detail = {"rows": n_rows, "row_groups": n_rgs, "subset_rows": len(subset),
              "step_rows": STEP_ROWS, "workers": WORKERS}
    return _measure(
        run, make, one_pass, session, n_rgs, detail,
        lambda tracer, p: {"reader.consumer_wait_s": sum(p.waits)},
    )


# ---------------------------------------------------------------------------
# columnar_batches
# ---------------------------------------------------------------------------


def filter_bounds(ts: np.ndarray, rg_rows: int, n_rgs: int) -> tuple[int, int]:
    """A ``ts`` range whose row-group statistics exclude the first and
    last eighth of the row groups; the two edge groups keep part of
    their rows, so the row-level mask also does work."""
    edge = n_rgs // 8
    lo = int(ts[edge * rg_rows + rg_rows // 3])
    hi = int(ts[(n_rgs - edge) * rg_rows - rg_rows // 3])
    return lo, hi


def check_columnar(rows: int, id_sum: int, expected: tuple[int, int]) -> list[str]:
    if (rows, id_sum) != expected:
        return [f"delivered (rows, id sum) {(rows, id_sum)} != expected {expected}"]
    return []


def columnar_batches(run) -> Outcome:
    from petastorm_spark.bridges.torch import BatchedDataLoader
    from petastorm_spark.reader import make_batch_reader

    rgs_per_file = max(2, int(COLUMNAR_RGS_PER_FILE * run.scale))
    n_rgs = COLUMNAR_FILES * rgs_per_file
    path = os.path.join(run.work, "columnar")
    session = run.start_session()
    run.mark("session")
    cols = data.columnar_columns(run.seed, n_rgs * COLUMNAR_RG_ROWS)
    data.write_columnar_store(path, cols, COLUMNAR_FILES, COLUMNAR_RG_ROWS)
    lo, hi = filter_bounds(cols["ts"], COLUMNAR_RG_ROWS, n_rgs)
    keep = (cols["ts"] >= lo) & (cols["ts"] < hi)
    per_epoch = (int(keep.sum()), int(cols["id"][keep].sum()))
    del cols, keep
    run.mark("generate")
    url = "file://" + path

    def make(workers: int):
        return make_batch_reader(
            url,
            spark=run.spark,
            filters=[("ts", ">=", lo), ("ts", "<", hi)],
            shuffle_row_groups=True,
            seed=run.seed,
            workers_count=workers,
            num_epochs=None,
        )

    def one_pass(seconds: float, tracer: Tracer | None, workers: int,
                 meter: CpuMeter | None) -> Pass:
        reader = make(workers)
        batches = whole_epochs(
            TracedIterable(reader, tracer, "reader.next") if tracer else reader,
            lambda batch: len(batch.id), per_epoch[0], seconds,
            (lambda: meter.lap(per_epoch[0])) if meter else None,
        )
        loader = BatchedDataLoader(
            batches,
            batch_size=LOADER_BATCH,
            shuffling_queue_capacity=8,
            shuffling_queue_seed=run.seed,
        )
        p = Pass()
        rows = id_sum = 0
        try:
            with reader, loader:
                it = iter(
                    TracedIterable(loader, tracer, "bridges.loader_next")
                    if tracer else loader
                )
                if meter:
                    meter.start()
                p.start = time.perf_counter()
                while True:
                    t0 = time.perf_counter()
                    batch = next(it, None)
                    t1 = time.perf_counter()
                    if batch is None:
                        break
                    p.step(t0, t1, len(batch["id"]))
                    rows += len(batch["id"])
                    id_sum += int(batch["id"].sum())
                p.wall = time.perf_counter() - p.start
        except Exception as exc:  # noqa: BLE001 - a failed pass must not end the run
            p.problems.append(f"columnar_batches pass: {type(exc).__name__}: {exc}")
            return p
        p.epochs = rows // per_epoch[0]
        expected = (per_epoch[0] * p.epochs, per_epoch[1] * p.epochs)
        p.problems = check_columnar(rows, id_sum, expected)
        return p

    def traced_layers(tracer, p: Pass):
        loader_s = tracer.busy("bridges.loader_next")
        reader_s = tracer.busy("reader.next")
        return {
            "reader.consumer_wait_s": reader_s,
            "bridges.loader_self_s": loader_s - reader_s,
            "bridges.batches": len(p.waits),
        }

    detail = {"rows": n_rgs * COLUMNAR_RG_ROWS, "row_groups": n_rgs,
              "kept_rows": per_epoch[0], "batch_rows": LOADER_BATCH,
              "workers": WORKERS}
    return _measure(run, make, one_pass, session, n_rgs, detail,
                    traced_layers)
