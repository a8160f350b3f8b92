"""Session conf handling: the engine applies only runtime-settable confs
to sessions it did not build (a static conf set on a live session
raises CANNOT_MODIFY_STATIC_CONFIG and failed every query of an
externally-created session), and the sessions get_spark builds run
their Python workers under the package's worker daemon."""

import json
import os
import subprocess
import sys
import textwrap

from petastorm_spark.session import (
    SESSION_CONFS,
    _driver_memory,
    ensure_session_confs,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_confs_are_runtime_modifiable(spark):
    assert SESSION_CONFS
    for k in SESSION_CONFS:
        assert spark.conf.isModifiable(k), k


def test_driver_memory_is_half_of_physical_capped_at_48g():
    gib = 1 << 30
    assert _driver_memory(16 * gib) == "8g"
    assert _driver_memory(15 * gib + 512 * (1 << 20)) == "7936m"
    assert _driver_memory(96 * gib) == "48g"
    assert _driver_memory(512 * gib) == "48g"
    assert _driver_memory(None) == "48g"


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


def test_python_tasks_run_under_worker_daemon(spark):
    """get_spark sessions fork their Python workers from
    ``petastorm_spark._worker_daemon``, whose stat-checked
    ``zipimporter.invalidate_caches`` (Python < 3.13) the workers
    inherit; both confs are static, builder-only ones."""

    def probe(_):
        import sys as wsys
        import zipimport

        spec = getattr(wsys.modules["__main__"], "__spec__", None)
        return (
            spec.name if spec else None,
            zipimport.zipimporter.invalidate_caches.__qualname__,
        )

    got = set(spark.sparkContext.parallelize(range(4), 4).map(probe).collect())
    names = {name for name, _ in got}
    assert names == {"petastorm_spark._worker_daemon"}, got
    if sys.version_info < (3, 13):
        qualnames = {q for _, q in got}
        assert qualnames == {
            "install_stat_checked_reread.<locals>.invalidate_caches"
        }, got
    for k in ("spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"):
        assert k not in SESSION_CONFS
        assert not spark.conf.isModifiable(k), k


def test_workers_import_package_from_any_cwd(tmp_path):
    """Driver outside the repository, ``PYTHONPATH`` unset, the package on
    the driver's ``sys.path`` only: an RDD map and a ``mapInPandas`` that
    pickle a package object by reference still run, because get_spark
    puts the package's parent directory on the workers' path."""
    script = textwrap.dedent(
        f"""
        import functools
        import json
        import sys

        sys.path.insert(0, {ROOT!r})
        import numpy as np
        import pandas as pd

        from petastorm_spark.codecs import NdarrayCodec
        from petastorm_spark.session import get_spark
        from petastorm_spark.unischema import UnischemaField

        field = UnischemaField("v", np.float32, (2,), NdarrayCodec(), False)
        spark = get_spark("any_cwd", cpus=2)
        arrays = [np.full(2, i, np.float32) for i in range(4)]
        rdd = spark.sparkContext.parallelize(arrays, 2)
        sizes = rdd.map(functools.partial(field.codec.encode, field)).map(len)
        rdd_sizes = sorted(sizes.collect())

        def kernel(batches):
            for pdf in batches:
                yield pd.DataFrame({{"n": [
                    len(field.codec.encode(field, np.full(2, i, np.float32)))
                    for i in pdf["id"]
                ]}})

        pandas_sizes = sorted(
            r.n for r in spark.range(4).mapInPandas(kernel, "n long").collect()
        )
        print("SIZES", json.dumps([rdd_sizes, pandas_sizes]))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "No module named 'petastorm_spark'" not in proc.stderr, proc.stderr[-3000:]
    assert proc.returncode == 0, proc.stderr[-3000:]
    sizes = [ln for ln in proc.stdout.splitlines() if ln.startswith("SIZES ")]
    assert sizes, proc.stdout[-2000:]
    rdd_sizes, pandas_sizes = json.loads(sizes[-1].split(" ", 1)[1])
    assert len(rdd_sizes) == len(pandas_sizes) == 4
    assert len(set(rdd_sizes)) == 1 and rdd_sizes[0] > 0
    assert pandas_sizes == rdd_sizes
