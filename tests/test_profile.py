"""Query profiling (``petastorm_spark/profile.py``): the stage counter
counts the stages that ran, the timed runs free each other's
materializations, and ``tools/profile_queries.py`` prints one JSON line
per query and scale factor."""

from __future__ import annotations

import importlib.util
import json
import os

from pyspark.sql import functions as F

from petastorm_spark import session
from petastorm_spark.profile import profile_query, spark_counters

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _self_join(spark, _sf_dir):
    counts = spark.range(0, 2000, 1, 4).groupBy((F.col("id") % 50).alias("k")).count()
    return counts.join(counts.hint("shuffle_merge"), "k")


def test_counter_counts_only_the_stages_that_ran(spark):
    """Under AQE the aggregate's shuffle runs as a job of its own, and the
    join's later jobs list its stage again, as a skipped stage. Adding up
    every listed stage id counted it once per job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test_profile_self_join"
    sc.setJobGroup(group, group)
    try:
        assert _self_join(spark, None).count() == 50
    finally:
        sc._jsc.clearJobGroup()
    jobs = tracker.getJobIdsForGroup(group)
    store = sc._jsc.sc().statusStore()
    ran = [store.job(j) for j in jobs]
    got = spark_counters(spark, group)
    assert got == {
        "jobs": len(jobs),
        "stages": sum(j.numCompletedStages() for j in ran),
        "tasks": sum(j.numCompletedTasks() for j in ran),
    }
    assert sum(j.numSkippedStages() for j in ran) > 0
    # the counter it replaces: every stage id every job lists
    listed = [
        tracker.getStageInfo(s)
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert len(listed) > got["stages"]
    assert sum(s.numTasks for s in listed) > got["tasks"]
    prof = profile_query(spark, _self_join, None, runs=2)
    assert len(prof["walls"]) == 2 and prof["rows"] == 50
    assert {k: prof[k] for k in got} == got


def test_each_run_frees_the_materializations_of_the_last(spark):
    """``clearCache()`` never frees a local checkpoint, so a protocol that
    only cleared the cache kept every run's checkpoints resident."""
    registered = []

    def cut(spark, _sf_dir):
        registered.append(len(session._MATERIALIZED))
        df = session.materialize(spark.range(100).withColumn("x", F.col("id") * 2), cut=True)
        registered.append(len(session._MATERIALIZED))
        return df.filter("x >= 10")

    try:
        prof = profile_query(spark, cut, None, runs=3)
        assert prof["rows"] == 95
        assert registered == [0, 1] * 3
        assert len(session._MATERIALIZED) == 1
    finally:
        session.release_persisted()


def _profile_tool(spark, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "profile_tool", os.path.join(ROOT, "tools", "profile_queries.py")
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(tool, "get_spark", lambda *a, **k: spark)
    return tool


def test_profile_tool_prints_one_json_line_and_writes_the_plan(
    spark, tmp_path, capsys, monkeypatch
):
    tool = _profile_tool(spark, monkeypatch)
    tool.main(["--sf", "0.001", "--runs", "1", "--plans", str(tmp_path), "q3_shipping_priority"])
    (line,) = capsys.readouterr().out.splitlines()
    row = json.loads(line)
    assert row["query"] == "q3_shipping_priority" and row["sf"] == 0.001
    assert "error" not in row
    assert row["jobs"] >= 1 and row["stages"] >= 1 and row["tasks"] >= 1
    assert len(row["walls"]) == 1 and row["rows"] == 10
    plan = (tmp_path / "q3_shipping_priority_sf0.001.txt").read_text()
    assert plan.startswith("== Physical Plan ==") and "isFinalPlan=true" in plan


def test_profile_tool_warms_up_at_each_scale_factor(spark, capsys, monkeypatch):
    """The untimed warm-up runs on the profiled dataset itself, so a
    per-dataset cache a query builds on first use is built before the
    timed run at every scale factor: per scale factor one warm-up, one
    timed run and one plan run, all on that scale factor's data."""
    tool = _profile_tool(spark, monkeypatch)
    seen = []

    def query(spark_, sf_dir):
        seen.append(os.path.basename(sf_dir))
        return spark_.range(3)

    monkeypatch.setattr(tool, "QUERIES", {"q": query})
    tool.main(["--sf", "0.001,0.01", "--runs", "1", "q"])
    assert len(capsys.readouterr().out.splitlines()) == 2
    assert seen == ["sf0.001"] * 3 + ["sf0.01"] * 3
