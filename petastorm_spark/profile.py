"""Query profiling: one timed-run protocol and one stage counter, shared
by ``bench.py``, ``tools/profile_queries.py`` and
``tools/scaling_study.py``.

Neither the package nor the reader imports this module, so nothing that
only reads or writes data loads it.
"""

from __future__ import annotations

import itertools
import time

from petastorm_spark.session import release_persisted

_GROUPS = itertools.count()


def spark_counters(spark, group: str) -> dict:
    """``{"jobs", "stages", "tasks"}`` of the jobs run under the job group
    ``group``: the jobs, the stages that ran and their tasks. Under AQE a
    later job lists the stages of earlier jobs again, as skipped stages,
    so each stage id counts once and a SKIPPED stage not at all. Reads the
    status tracker and the app status store, which both answer with the
    UI disabled."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {
        sid
        for info in map(tracker.getJobInfo, jobs)
        if info is not None
        for sid in info.stageIds
    }
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0}
    for sid in stage_ids:
        try:
            stage = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted from the store
            continue
        if str(stage.status()) != "SKIPPED":
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
    return out


def profile_query(spark, fn, sf_dir: str, runs: int) -> dict:
    """Time ``fn(spark, sf_dir).count()`` ``runs`` times and return
    ``{"walls": [...], "rows", "jobs", "stages", "tasks"}``, the counts
    being those of the min-wall run.

    Before each run, and outside the timed region: free every
    materialization the package made (``clearCache()`` never frees local
    checkpoints), drop cached plans, collect JVM garbage so earlier work
    is not collected inside the run, and open a job group of its own for
    the counter. A raising ``fn`` propagates."""
    sc = spark.sparkContext
    walls, counts = [], []
    try:
        for _ in range(runs):
            release_persisted()
            spark.catalog.clearCache()
            sc._jvm.System.gc()
            group = f"profile_{next(_GROUPS)}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).count()
            walls.append(time.perf_counter() - t0)
            counts.append({"rows": rows, **spark_counters(spark, group)})
    finally:
        sc._jsc.clearJobGroup()
    return {"walls": walls, **counts[walls.index(min(walls))]}
