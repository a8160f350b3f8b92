"""Session conf handling: the engine applies only runtime-settable confs
to sessions it did not build (a static conf set on a live session
raises CANNOT_MODIFY_STATIC_CONFIG and failed every query of an
externally-created session), the sessions get_spark builds run their
Python workers under the package's worker daemon, and their driver JVM
starts from a class-data-sharing archive when one applies."""

import json
import os
import re
import shutil
import subprocess
import sys
import textwrap
import time

import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home

from petastorm_spark.session import (
    SESSION_CONFS,
    _cds_key,
    _default_conf_is_empty,
    _driver_memory,
    _java_home,
    arrow_local_df,
    ensure_session_confs,
    release_persisted,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_confs_are_runtime_modifiable(spark):
    assert SESSION_CONFS
    for k, v in SESSION_CONFS.items():
        assert spark.conf.isModifiable(k), k
        assert spark.conf.get(k) == v, k


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


def _persistent_rdd_ids(spark):
    rdds = spark.sparkContext._jsc.getPersistentRDDs()  # java.util.Map
    return {int(k) for k in rdds.keySet().toArray()}


def _small_graph(spark):
    """60 nodes: a ring, a stride-7 chord set and a stride-3 chord set,
    so there are triangles, a non-trivial 3-core and one component."""
    pairs = sorted(
        {(i, (i + d) % 60) for i in range(60) for d in (1, 3, 7)}
    )
    return arrow_local_df(
        spark,
        {"src": [a for a, _ in pairs], "dst": [b for _, b in pairs]},
        "src bigint, dst bigint",
    )


def test_release_persisted_frees_every_operator_materialization(spark):
    """Persists and local checkpoints made by the iterative operators
    all go through session.materialize: once the lazy results are
    consumed, release_persisted() leaves no block and no cache entry
    behind (clearCache() alone cannot free checkpoint blocks)."""
    import numpy as np
    from pyspark.sql import functions as F

    from petastorm_spark.operators.dedup import connected_components
    from petastorm_spark.operators.graph import (
        kcore_decompose,
        label_propagation,
        pagerank,
        triangle_census,
    )
    from petastorm_spark.operators.similarity import semantic_dedup

    release_persisted()
    spark.catalog.clearCache()  # a clean baseline: other tests cache frames
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = _persistent_rdd_ids(spark)
    edges = _small_graph(spark)
    vecs = [[float(x) for x in v] for v in np.random.default_rng(5).standard_normal((20, 8))]
    corpus = arrow_local_df(  # 20 vectors, each twice: 20 duplicates
        spark,
        {"vec_id": list(range(40)), "embedding": vecs + vecs},
        "vec_id bigint, embedding array<double>",
    )
    results = [
        pagerank(edges, iters=12, checkpoint_interval=5),
        label_propagation(edges, rounds=10),
        kcore_decompose(edges, k=3, max_rounds=10),
        triangle_census(edges),
        connected_components(
            edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")),
            local_threshold=0,
        ),
        semantic_dedup(corpus, n_cells=4, threshold=0.99),
    ]
    for r in results:
        assert r.collect()
    assert _persistent_rdd_ids(spark) - before, "nothing was materialized"
    assert release_persisted() > 0
    assert _persistent_rdd_ids(spark) - before == set()
    assert cache.isEmpty()


def test_kcore_holds_one_checkpoint_whatever_max_rounds(spark):
    """Each peeling round frees the previous round's edge and node
    tables once the next edge table is cut: the lazy result is backed
    by the final edge table alone."""
    from petastorm_spark.operators.graph import kcore_decompose

    edges = _small_graph(spark)
    held, freed = [], []
    for rounds in (2, 10):
        release_persisted()
        before = _persistent_rdd_ids(spark)
        assert kcore_decompose(edges, k=3, max_rounds=rounds).collect()
        held.append(len(_persistent_rdd_ids(spark) - before))
        freed.append(release_persisted())
        assert _persistent_rdd_ids(spark) - before == set()
    assert held == [1, 1], held
    assert freed == [1, 1], freed


def test_releasing_a_checkpoint_logs_no_warning():
    """A released checkpoint is freed through the SparkContext:
    ``RDD.unpersist()`` logs "was locally checkpointed, its lineage has
    been truncated" for every release."""
    script = textwrap.dedent(
        f"""
        import sys

        sys.path.insert(0, {ROOT!r})
        from petastorm_spark.session import get_spark, materialize, release

        spark = get_spark("release_warn", cpus=1)
        df = materialize(spark.range(100), cut=True)
        assert df.count() == 100
        release(df)
        print("PERSISTENT", len(spark.sparkContext._jsc.getPersistentRDDs()))
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PERSISTENT 0" in proc.stdout, proc.stdout[-2000:]
    assert "locally checkpointed" not in proc.stderr, proc.stderr[-3000:]


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


def test_bare_session_workers_import_package_from_any_cwd(tmp_path):
    """A bare ``SparkSession.builder`` session (no get_spark confs)
    started outside the repository with ``PYTHONPATH`` unset: after
    ``ensure_session_confs``, a ``mapInPandas`` whose function imports
    the package runs, because the package is shipped to the session's
    workers. A second call ships nothing more."""
    script = textwrap.dedent(
        f"""
        import sys

        sys.path.insert(0, {ROOT!r})
        import pandas as pd
        from pyspark.sql import SparkSession

        from petastorm_spark.session import ensure_session_confs

        spark = SparkSession.builder.master("local[2]").appName("bare").getOrCreate()
        ensure_session_confs(spark)
        ensure_session_confs(spark)
        print("INCLUDES", len(spark.sparkContext._python_includes))

        def kernel(batches):
            import petastorm_spark.codecs as codecs

            for pdf in batches:
                yield pd.DataFrame({{"n": [len(codecs.__name__)] * len(pdf)}})

        rows = spark.range(4).repartition(2).mapInPandas(kernel, "n long").collect()
        print("ROWS", sorted(r.n for r in rows))
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
    assert "INCLUDES 1" in proc.stdout.splitlines(), proc.stdout[-2000:]
    want = [len("petastorm_spark.codecs")] * 4
    assert f"ROWS {want}" in proc.stdout.splitlines(), proc.stdout[-2000:]


# ---- class-data-sharing archive of the driver JVM --------------------------


def _touch(path, data=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def test_cds_key_tracks_jdk_and_jars(tmp_path):
    jdk, jars = tmp_path / "jdk", tmp_path / "jars"
    _touch(str(jdk / "lib" / "server" / "libjvm.so"), b"jvm")
    _touch(str(jdk / "release"), b'IMPLEMENTOR="x"\nJAVA_VERSION="17.0.1"\n')
    for name in ("a.jar", "b.jar"):
        _touch(str(jars / name))
    key = _cds_key(str(jdk), str(jars), "4.1.2")
    assert key == _cds_key(str(jdk), str(jars), "4.1.2")
    assert key != _cds_key(str(jdk), str(jars), "4.1.3")

    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    moved = _cds_key(str(jdk), str(jars), "4.1.2")
    assert moved != key
    with open(jars / "b.jar", "ab") as f:  # size changes, mtime kept
        f.write(b"y")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _cds_key(str(jdk), str(jars), "4.1.2") not in (key, moved)

    _touch(str(jdk / "release"), b'JAVA_VERSION="17.0.2"\n')
    assert _cds_key(str(jdk), str(jars), "4.1.2") != key

    other = tmp_path / "jdk2"
    shutil.copytree(jdk, other, copy_function=shutil.copy2)
    assert _cds_key(str(other), str(jars), "4.1.2") != _cds_key(
        str(jdk), str(jars), "4.1.2"
    )


def test_cds_needs_the_default_conf_dir_without_real_files(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home = tmp_path / "spark"
    home.mkdir()
    assert _default_conf_is_empty(str(home))  # no conf dir
    _touch(str(home / "conf" / "spark-defaults.conf.template"))
    assert _default_conf_is_empty(str(home))
    _touch(str(home / "conf" / "spark-defaults.conf"))
    assert not _default_conf_is_empty(str(home))
    os.unlink(home / "conf" / "spark-defaults.conf")
    monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    assert not _default_conf_is_empty(str(home))


def test_dumper_lock(tmp_path, monkeypatch):
    """One dumper per key: a fresh lock blocks a second start, a stale
    one does not, and an archive published while the session launched
    (its dumper already gone with its lock) starts none."""
    from petastorm_spark import session

    spawned = []
    monkeypatch.setattr(session.subprocess, "run", lambda argv, **kw: spawned.append(argv))
    cds, lock = str(tmp_path), str(tmp_path / "k.lock")
    session._start_dumper(cds, "k")
    session._start_dumper(cds, "k")
    assert len(spawned) == 1 and spawned[0][-2:] == [cds, "k"]
    old = time.time() - session._CDS_LOCK_STALE_S - 1
    os.utime(lock, (old, old))
    session._start_dumper(cds, "k")
    assert len(spawned) == 2 and os.path.exists(lock)
    os.unlink(lock)
    _touch(str(tmp_path / "k.jsa"))
    session._start_dumper(cds, "k")
    assert len(spawned) == 2 and not os.path.exists(lock)


# a session whose report names the JVM's flags, one conf, whether the
# variables get_spark touches came back unchanged, and a query's result
_LAUNCH = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, {root!r})
    from petastorm_spark.session import get_spark

    before = dict(os.environ)
    spark = get_spark("cds_probe", cpus=2)
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    changed = sorted(k for k in set(before) | {{"SPARK_CONF_DIR", "SPARK_SUBMIT_OPTS"}}
                     if os.environ.get(k) != before.get(k))
    marker = spark.conf.get("spark.petastorm.test.marker", None)
    rows = spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count().count()
    print("REPORT", json.dumps(dict(args=args, changed=changed, marker=marker, rows=rows)))
    spark.stop()
    """
)


def _launch(cache, **env_extra):
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g")
    for k in ("SPARK_CONF_DIR", "SPARK_SUBMIT_OPTS", "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    env.update(env_extra)
    proc = subprocess.run(
        [sys.executable, "-c", _LAUNCH.format(root=ROOT)],
        cwd=str(cache),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
    assert lines, proc.stdout[-2000:]
    report = json.loads(lines[-1].split(" ", 1)[1])
    assert report["rows"] == 3
    return report, proc.stdout + proc.stderr


def _cds_files(cache, spark_home=None):
    """(cds dir, key) of this JDK and Spark, as get_spark computes them."""
    jars = os.path.join(spark_home or _find_spark_home(), "jars")
    cds = os.path.join(str(cache), "petastorm_spark", "cds")
    os.makedirs(cds, exist_ok=True)
    return cds, _cds_key(_java_home(), jars, pyspark.__version__)


_CDS_TEXT = re.compile(r"\[cds|cds[,\]]|shared archive", re.IGNORECASE)


def _archive_flag(args):
    return [a for a in args if a.startswith("-XX:SharedArchiveFile=")]


def test_corrupt_archive_starts_normally_and_silently(tmp_path):
    cds, key = _cds_files(tmp_path)
    _touch(os.path.join(cds, key + ".jsa"), b"not an archive" * 1000)
    report, output = _launch(tmp_path)
    assert _archive_flag(report["args"]) == [
        "-XX:SharedArchiveFile=" + os.path.join(cds, key + ".jsa")
    ]
    assert not _CDS_TEXT.search(output), _CDS_TEXT.search(output)
    assert not os.path.exists(os.path.join(cds, key + ".lock"))  # no dumper


def test_user_submit_opts_kept_and_environ_restored(tmp_path):
    cds, key = _cds_files(tmp_path)
    _touch(os.path.join(cds, key + ".jsa"), b"not an archive")
    report, _ = _launch(tmp_path, SPARK_SUBMIT_OPTS="-Dpetastorm.test.opt=kept")
    args = report["args"]
    assert "-Dpetastorm.test.opt=kept" in args
    assert _archive_flag(args)
    # the user's options come last, so they win over the CDS flags
    assert args.index("-Dpetastorm.test.opt=kept") > args.index(_archive_flag(args)[0])
    # pyspark itself sets SPARK_BUFFER_SIZE and SPARK_AUTH_SOCKET_TIMEOUT
    assert not set(report["changed"]) & {"SPARK_CONF_DIR", "SPARK_SUBMIT_OPTS"}
    assert set(report["changed"]) <= {"SPARK_BUFFER_SIZE", "SPARK_AUTH_SOCKET_TIMEOUT"}


def test_user_conf_dir_gets_no_cds(tmp_path):
    cds, key = _cds_files(tmp_path)
    _touch(os.path.join(cds, key + ".jsa"), b"not an archive")
    conf = tmp_path / "userconf"
    _touch(str(conf / "spark-defaults.conf"), b"spark.petastorm.test.marker honoured\n")
    report, _ = _launch(tmp_path, SPARK_CONF_DIR=str(conf))
    assert report["marker"] == "honoured"
    assert not _archive_flag(report["args"])
    assert not os.path.exists(os.path.join(cds, key + ".lock"))


def test_spark_home_with_real_conf_gets_no_cds(tmp_path):
    """A ``$SPARK_HOME/conf`` holding a real ``spark-defaults.conf``:
    no CDS, and the file is still read."""
    real = _find_spark_home()
    home = tmp_path / "spark"
    home.mkdir()
    for name in os.listdir(real):
        if name != "conf":
            os.symlink(os.path.join(real, name), home / name)
    _touch(str(home / "conf" / "spark-defaults.conf"), b"spark.petastorm.test.marker honoured\n")
    cds, key = _cds_files(tmp_path, str(home))
    _touch(os.path.join(cds, key + ".jsa"), b"not an archive")
    report, _ = _launch(tmp_path, SPARK_HOME=str(home))
    assert report["marker"] == "honoured"
    assert not _archive_flag(report["args"])
    assert not os.path.exists(os.path.join(cds, key + ".lock"))


def _dumpers(cds):
    """Pids of live ``petastorm_spark._cds_dump`` processes for ``cds``.
    A child the dumper forks keeps the dumper's argv until it execs, so
    a matched pid whose parent is also matched is not a dumper (real
    dumpers are double-forked and never parent each other)."""
    parents = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                argv = f.read().decode(errors="replace").split("\0")
            if argv[1:4] != ["-m", "petastorm_spark._cds_dump", cds]:
                continue
            with open(f"/proc/{entry}/status") as f:
                ppid = next(int(ln.split()[1]) for ln in f if ln.startswith("PPid:"))
        except (OSError, StopIteration):
            continue
        parents[int(entry)] = ppid
    return {pid for pid, ppid in parents.items() if ppid not in parents}


@pytest.fixture(scope="module")
def dumped_cache(tmp_path_factory):
    """Two sessions launched at once with no archive; returns the cache,
    the dumper pids seen and every (name, size) of a ``.jsa`` seen
    while the dump ran."""
    cache = tmp_path_factory.mktemp("cds_cache")
    cds, key = _cds_files(cache)
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_CONF_DIR", None)
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from petastorm_spark.session import get_spark\n"
        "s = get_spark('cold', cpus=1); s.range(10).count(); s.stop()\n"
    )
    launches = [
        subprocess.Popen([sys.executable, "-c", script], env=env, cwd=str(cache),
                         stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        for _ in range(2)
    ]
    seen_pids, seen_jsa = set(), set()
    deadline = time.monotonic() + 600
    try:
        while time.monotonic() < deadline:
            alive = _dumpers(cds)
            seen_pids |= alive
            for name in os.listdir(cds):
                if name.endswith(".jsa"):
                    try:
                        seen_jsa.add((name, os.path.getsize(os.path.join(cds, name))))
                    except FileNotFoundError:
                        pass
            launched = all(p.poll() is not None for p in launches)
            if launched and not alive and not os.path.exists(os.path.join(cds, key + ".lock")):
                break
            time.sleep(0.05)
    finally:
        for pid in _dumpers(cds):
            os.kill(pid, 9)
        for p in launches:
            p.kill()
            p.wait()
    assert [p.returncode for p in launches] == [0, 0]
    return cache, cds, key, seen_pids, seen_jsa


@pytest.mark.slow
def test_concurrent_cold_launches_start_one_dumper(dumped_cache):
    cache, cds, key, seen_pids, seen_jsa = dumped_cache
    assert len(seen_pids) == 1, seen_pids
    archive = os.path.join(cds, key + ".jsa")
    assert os.path.getsize(archive) > 10 << 20
    # the archive appears only by rename: never seen with another size
    assert seen_jsa == {(key + ".jsa", os.path.getsize(archive))}
    assert set(os.listdir(cds)) == {"conf", key + ".jsa"}


@pytest.mark.slow
def test_spark_classes_load_from_the_archive(dumped_cache, tmp_path):
    cache, cds, key, _, _ = dumped_cache
    log = tmp_path / "class_load.txt"
    report, output = _launch(cache, SPARK_SUBMIT_OPTS=f"-Xlog:class+load:file={log}")
    assert _archive_flag(report["args"])
    shared = re.findall(
        r"\] (org\.apache\.spark\.\S+) source: shared objects file \(top\)",
        log.read_text(),
    )
    assert shared, log.read_text()[-3000:]
    assert not _CDS_TEXT.search(output)
