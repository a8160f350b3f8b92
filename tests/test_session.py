"""Session conf handling: the engine applies only runtime-settable confs
to sessions it did not build (a static conf set on a live session
raises CANNOT_MODIFY_STATIC_CONFIG and failed every query of an
externally-created session)."""

import os
import subprocess
import sys
import textwrap

from petastorm_spark.session import SESSION_CONFS, ensure_session_confs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_confs_are_runtime_modifiable(spark):
    assert SESSION_CONFS
    for k in SESSION_CONFS:
        assert spark.conf.isModifiable(k), k


def test_ensure_session_confs_skips_unmodifiable_conf():
    """A conf the session reports as not modifiable is never set, even
    when its value differs."""

    class Conf:
        def __init__(self):
            self.values, self.sets = {}, []

        def get(self, k):
            return self.values[k]

        def isModifiable(self, k):
            return k != "spark.sql.session.timeZone"

        def set(self, k, v):
            self.sets.append(k)
            self.values[k] = v

    class Session:
        conf = Conf()

    s = Session()
    s.conf.values["spark.sql.session.timeZone"] = "America/Los_Angeles"
    ensure_session_confs(s)
    assert "spark.sql.session.timeZone" not in s.conf.sets
    assert set(s.conf.sets) == set(SESSION_CONFS) - {"spark.sql.session.timeZone"}
    # values now match: a second call sets nothing
    s.conf.sets.clear()
    ensure_session_confs(s)
    assert s.conf.sets == []


def test_bare_session_runs_registered_query(sf_dir):
    """A plain ``SparkSession.builder`` session (no get_spark confs), as
    an external driver hands it over, runs a registered query through
    ``__spark_entry__.queries()``. Fresh process: the session must be
    the first one its JVM sees."""
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        import __spark_entry__ as m

        spark = SparkSession.builder.master("local[2]").appName("bare").getOrCreate()
        rows = m.queries()["q1_pricing_summary"](spark, {sf_dir!r}).collect()
        print("ROWS", len(rows))
        spark.stop()
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "CANNOT_MODIFY_STATIC_CONFIG" not in proc.stderr
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, proc.stdout[-2000:]
