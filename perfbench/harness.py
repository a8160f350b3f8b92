"""Run context shared by the workloads: the Spark session, timing
statistics, process memory, Spark status-store counters and the outcome
every workload returns."""

from __future__ import annotations

import dataclasses
import os
import resource
import statistics
import subprocess
import threading
import time
import zlib

import numpy as np

from perfbench.metrics import SPARK_COUNTERS


@dataclasses.dataclass
class Outcome:
    """What one workload run measured. ``metrics`` holds the end-to-end
    values, ``layers`` the traced per-layer values, ``detail`` anything
    else worth printing (sample counts, per-query walls, errors)."""

    metrics: dict
    layers: dict
    attempted: int
    failed: int
    detail: dict


class Run:
    """One benchmark run: arguments, the scratch directory inside the
    checkout and the live Spark session."""

    def __init__(self, root: str, work: str, seed: int, seconds: float,
                 trace: bool, cpus: int, scale: float):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.scale = scale
        self.spark = None
        self.errors: list[str] = []
        self.tracer = None
        self.java_version: str | None = None
        self.phases: dict[str, float] = {}
        self._mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = round(now - self._mark, 3)
        self._mark = now

    def start_session(self) -> tuple[float, float]:
        """Create the SparkSession; returns the wall of ``get_spark`` and
        its normalised CPU seconds (see :class:`CpuMeter`)."""
        from petastorm_spark.session import get_spark

        meter = CpuMeter()
        meter.start()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        wall = time.perf_counter() - t0
        cost = meter.lap(1)
        self.java_version = self.spark.sparkContext._jvm.System.getProperty(
            "java.version"
        )
        return wall, cost

    def stop(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def record_error(self, what: str, exc: BaseException) -> None:
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])

    def setup(self, session_cost: float, construct, reps: int = 3) -> tuple[float, float]:
        """setup_s: the normalised CPU seconds of the session start plus
        the median of those of ``reps`` calls of ``construct()`` (each
        returns its own wall). The JVM launches once per process, so the
        session start is measured once. Returns (setup_s, median
        construction wall)."""
        meter = CpuMeter()
        meter.start()
        walls = []
        for _ in range(reps):
            walls.append(construct())
            meter.lap(1)
        return session_cost + statistics.median(meter.costs), statistics.median(walls)


def percentile_ms(waits_s: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(waits_s), q)) * 1e3


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a ``/proc`` stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 1:].split()


def _ticks_s(fields: list[str], children: bool = True) -> float:
    """utime + stime (+ cutime + cstime) of a stat line, in seconds."""
    return sum(map(int, fields[11:15 if children else 13])) / _TICK


def _jit_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads (``C1/C2
    CompilerThread``). Their count is fixed (the JVM is started with
    ``-XX:-UseDynamicNumberOfCompilerThreads``), so this only grows."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += _ticks_s(fields, children=False)
    return total


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process (exact) and by every live
    descendant: the JVM and Spark's Python workers, each with the children
    it has reaped (``/proc/<pid>/stat``, in clock ticks). With paravirtual
    time accounting, CPU time leaves out host steal, which the wall clock
    does not.

    The JVM's JIT compiler threads are left out. The small curation
    queries make Spark generate and load new classes on every run, so
    compilation never settles: after seven passes it was still half of a
    query's CPU, in bursts that land in one query or the next. Counted,
    it made the curation figures spread by 0.11 of their median."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            comm, fields = _stat(f"/proc/{entry}/stat")
        except OSError:  # the process ended while we looked
            continue
        procs[int(entry)] = (int(fields[1]), comm, fields)
    total = time.process_time()
    frontier = {os.getpid()}
    while frontier:
        frontier = {pid for pid, (ppid, _, _) in procs.items() if ppid in frontier}
        for pid in frontier:
            _, comm, fields = procs[pid]
            total += _ticks_s(fields)
            if comm == "java":
                try:
                    total -= _jit_s(pid)
                except OSError:
                    pass
    return total


_CAL_RNG = np.random.default_rng(20240101)
_CAL_BLOB = zlib.compress(_CAL_RNG.integers(0, 16, 1 << 20, dtype=np.uint8).tobytes())
_CAL_ARRAY = _CAL_RNG.random(1 << 18)

# CPU seconds one calibrate() takes on an idle 4th-generation Xeon vCPU;
# normalised CPU times are expressed at that speed
CAL_REFERENCE_S = 0.036


def calibrate() -> float:
    """Thread CPU seconds of a fixed piece of work that shares no code
    with the program: interpreted Python, zlib inflate and a numpy sort,
    the kinds of work the workloads do. On a shared host the speed of a
    vCPU moves by half or more from minute to minute (a busy neighbour on
    the same core, the memory bus), and this time moves with it."""
    t0 = time.thread_time()
    for _ in range(2):
        acc = 0
        for i in range(120_000):
            acc += i * i % 7
        zlib.decompress(_CAL_BLOB)
        np.sort(_CAL_ARRAY)
    return time.thread_time() - t0


class CpuMeter:
    """Normalised CPU cost of measured intervals.

    ``start()`` opens an interval and ``lap(items)`` closes it and opens
    the next. An interval's cost is the CPU its process tree used
    (:func:`tree_cpu_s`, so steal is left out), scaled by
    ``CAL_REFERENCE_S`` over the mean of the calibrations taken at its two
    ends (so a slower vCPU is left out too), per item. A calibration taken
    by ``lap`` lies inside the next interval's CPU reading and its own
    thread CPU is taken off it, so work other threads do meanwhile still
    counts."""

    def __init__(self):
        self.costs: list[float] = []
        self.cals: list[float] = []
        self._cal = self._cpu = 0.0

    def start(self) -> None:
        self._cal = calibrate()
        self.cals.append(self._cal)
        self._cpu = tree_cpu_s()

    def lap(self, items: int) -> float:
        """Close the interval over ``items`` items; returns its normalised
        CPU seconds per item."""
        cpu = tree_cpu_s()
        cal = calibrate()
        self.cals.append(cal)
        cost = (cpu - self._cpu) * CAL_REFERENCE_S / ((self._cal + cal) / 2) / items
        self.costs.append(cost)
        self._cal = cal
        self._cpu = cpu + cal
        return cost

    def typical_ms(self) -> float:
        """The interquartile mean of the intervals' costs, in ms: steadier
        than the median over a few intervals, and a stray slow interval
        (a collection, a compile) does not move it."""
        return interquartile_mean(self.costs) * 1e3

    def cal_ms(self) -> float:
        """Median calibration time, in ms: above ``CAL_REFERENCE_S`` the
        vCPU ran slower than the reference."""
        return statistics.median(self.cals) * 1e3 if self.cals else 0.0


def interquartile_mean(values) -> float:
    """Mean of the values between the first and third quartiles (all of
    them when there are fewer than four)."""
    v = sorted(values)
    if not v:
        return 0.0
    cut = len(v) // 4
    return statistics.fmean(v[cut:len(v) - cut])


def _steal_s() -> float:
    """Host CPU steal of this VM so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Window:
    """The timed window: peak resident set of this process, sampled from
    ``/proc/self/statm`` on a background thread (the process-lifetime peak
    would include the benchmark's own input generation), and the host CPU
    steal over the window, which explains a slow run in the details."""

    def __init__(self, interval: float = 0.02):
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = resource.getpagesize()
        self.peak_bytes = 0
        self.steal_s = 0.0

    def _sample(self) -> None:
        with open("/proc/self/statm") as f:
            rss = int(f.read().split()[1]) * self._page
        self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self.steal_s = -_steal_s()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        self.steal_s += _steal_s()

    @property
    def rss_mb(self) -> float:
        return self.peak_bytes / 2**20


def spark_counters(spark, group: str) -> dict:
    """Jobs, stages and executor metrics of every job run under the job
    group ``group``, from the status tracker and the app status store
    (both answer with the UI disabled). Skipped stages are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    jobs = tracker.getJobIdsForGroup(group)
    out["jobs"] = len(jobs)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted or never run
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["output_bytes"] += sd.outputBytes()
    return out


def add_counters(total: dict, part: dict) -> dict:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
    return total


def jvm_gc(spark) -> None:
    spark.sparkContext._jvm.System.gc()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
