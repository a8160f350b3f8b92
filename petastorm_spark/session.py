"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime coalescing + skew-join handling), Arrow for
any Python exchange, UTC session time, shuffle partitions sized to
the core count rather than Spark's legacy 200.

A driver JVM that ``get_spark`` launches starts from a dynamic
class-data-sharing archive (JEP 350) when one exists: the classes of
Spark's jars are mapped in already parsed and verified, which halves the
launch's CPU. The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/petastorm_spark/cds/``, keyed by the JDK,
the jar list and the pyspark version. Without one, the session starts as
before and one detached process (``petastorm_spark._cds_dump``) builds
it from a generic session. CDS applies only when Spark's conf dir is the
default one and holds nothing but templates; any mismatch at run time
falls back, silently, to a normal start.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import zipfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _shuffle_partitions(cpus: int) -> int:
    """Post-shuffle partition count. Local default = core count (one
    wave, minimal task overhead at bench scale). At data scale this
    MUST grow with input bytes, not cores: several operators pin
    ShuffledHashJoin for exchange reuse (dedup._pair_join,
    lsh_candidate_pairs, winnowing) and an SHJ build side holds one
    PARTITION of bucket rows in a per-task hash map — corpus/partitions
    rows. Size via SPARK_GRAFT_SHUFFLE_PARTITIONS to keep partitions in
    the 100-200 MB range (e.g. ~8000 for a 1 TB fingerprint exchange);
    AQE coalesces the small ones back down, and AQE skew-join splits
    oversized SHJ partitions at runtime (receipt:
    tools/skew_shj_receipt.py — the split fires on the pinned
    ReusedExchange self-join shape), so over-provisioning costs little
    while under-provisioning risks build-side OOM at 100 TB."""
    return int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)))


def _driver_memory(phys_bytes: int | None) -> str:
    """Default driver heap: half of physical memory, capped at 48g (a
    host with 96 GiB or more keeps the 48g it always had). A fixed 48g
    on a 16 GB host let the JVM heap grow until the machine ran out of
    memory. Unknown physical memory keeps the 48g cap."""
    cap_mib = 48 << 10
    mib = cap_mib if phys_bytes is None else min(cap_mib, (phys_bytes // 2) >> 20)
    return f"{mib >> 10}g" if mib % 1024 == 0 else f"{mib}m"


def _physical_memory() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return None


def get_spark(app_name: str = "petastorm_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(_shuffle_partitions(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism floor for AQE coalescing: the default 1m floor
        # collapses a small-bytes shuffle to ONE post-shuffle task,
        # serializing compute-heavy stages whose cost is CPU, not IO
        # (measured: the applyInPandas EWMA fold ran 1-task/3.8s at
        # sf0.1 vs 15-task/0.9s at 10x the data). 256k keeps genuinely
        # tiny shuffles coalesced while letting compute-bound stages
        # use the cluster; irrelevant at 100 TB where shuffle sizes
        # dwarf any floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _driver_memory(_physical_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4 wraps every Column/functions API call with a
        # call-site capture (traceback walk + 2 extra JVM round trips
        # to set/clear PySparkCurrentOrigin) so error messages can
        # point at user code. On wide-expression queries that is the
        # dominant CONSTRUCTION cost (measured: ~40% of the py4j
        # round trips building the 219-query registry). The flag is
        # read ONCE per process (errors.utils caches it at the first
        # wrapped call), so it must be set at builder time, not after.
        # SPARK_GRAFT_DF_DEBUG=true restores the friendlier errors.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUG", "false"),
        )
        .config(map=SESSION_CONFS)
        # Python workers fork from _worker_daemon (pyspark.daemon without
        # the per-task zip directory re-reads, ~240 ms of CPU per task),
        # which `python -m` finds through the package's parent directory
        # from any cwd; the same entry lets workers unpickle functions
        # and objects of this package by reference.
        .config("spark.python.daemon.module", "petastorm_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    with _driver_jvm_env():
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ---- class-data-sharing archive of the driver JVM ------------------------
#
# The JVM refuses to dump an archive with a non-empty directory on the
# classpath and rejects the archive at run time when the classpath
# differs; Spark puts its conf dir there. So CDS launches (and the
# dumper) point SPARK_CONF_DIR at an empty directory of the cache, which
# changes nothing only when the default conf dir holds no real file.
# The flags come first in SPARK_SUBMIT_OPTS so that a user's own -Xshare
# or archive flag, later on the line, still wins; -Xlog silences the
# JVM's warning when it cannot map the archive (another classpath, a
# corrupt file) and starts without it.
_CDS_FLAGS = ("-Xshare:auto", "-Xlog:cds=off", "-Xlog:cds+dynamic=off")
# a dump takes ~30 s of wall on 4 vCPUs; a lock this old belongs to a
# dumper that died, and one left by a failed dump delays the retry
_CDS_LOCK_STALE_S = 600
# the dumper is a grandchild re-parented away from the session's process,
# so it is not among the session's descendants and is never reaped by it
_DETACH = (
    "import os,sys\n"
    "if os.fork()==0:\n"
    " os.setsid()\n"
    " os.execv(sys.executable,[sys.executable]+sys.argv[1:])\n"
)


def _java_home() -> str:
    """The JDK spark-class runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _java_version(java_home: str) -> str:
    """``JAVA_VERSION`` of the JDK's ``release`` file (``17.0.20``,
    ``1.8.0_402``); OSError when the file is missing."""
    with open(os.path.join(java_home, "release")) as f:
        for ln in f:
            if ln.startswith("JAVA_VERSION="):
                return ln.split("=", 1)[1].strip().strip('"')
    return ""


def _cds_key(java_home: str, jars_dir: str, pyspark_version: str) -> str:
    """Archive key: the resolved ``libjvm.so`` with its size and mtime,
    the JDK's ``JAVA_VERSION``, every jar's name, size and mtime, and
    the pyspark version. Raises OSError when the JDK or the jars cannot
    be read."""
    libjvm = os.path.realpath(os.path.join(java_home, "lib", "server", "libjvm.so"))
    st = os.stat(libjvm)
    parts = [libjvm, st.st_size, st.st_mtime_ns, _java_version(java_home), pyspark_version]
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        parts.append(f"{name} {st.st_size} {st.st_mtime_ns}")
    return hashlib.sha256("\n".join(map(str, parts)).encode()).hexdigest()[:24]


def _default_conf_is_empty(spark_home: str) -> bool:
    """True when the user has not set SPARK_CONF_DIR and
    ``$SPARK_HOME/conf`` is missing or holds only ``*.template`` files."""
    if "SPARK_CONF_DIR" in os.environ:
        return False
    try:
        names = os.listdir(os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        return True
    return all(n.endswith(".template") for n in names)


def _start_dumper(cds: str, key: str) -> None:
    """Start one detached ``petastorm_spark._cds_dump`` for ``key``
    unless another session holds its lock. (Two sessions breaking the
    same stale lock at once can start two dumpers; each publishes a
    complete archive by rename, so that costs only CPU.)"""
    lock = os.path.join(cds, key + ".lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        if time.time() - os.path.getmtime(lock) < _CDS_LOCK_STALE_S:
            return
        os.unlink(lock)
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    os.close(fd)
    # the archive was missing when this session launched; a dumper that
    # finished meanwhile published it before dropping its lock
    if os.path.isfile(os.path.join(cds, key + ".jsa")):
        os.unlink(lock)
        return
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, env.get("PYTHONPATH")) if p
    )
    subprocess.run(
        [sys.executable, "-S", "-c", _DETACH,
         "-m", "petastorm_spark._cds_dump", cds, key],
        stdin=subprocess.DEVNULL,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd=cds,
        env=env,
        check=False,
    )


def _cds_launch_env() -> tuple[dict[str, str], tuple[str, str] | None]:
    """Environment variables for launching a driver JVM with CDS (empty
    when CDS does not apply here), and the (cache dir, key) to dump when
    the archive for this JDK, jar set and pyspark is missing."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    if not _default_conf_is_empty(spark_home):
        return {}, None
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    cds = os.path.join(cache, "petastorm_spark", "cds")
    # SPARK_SUBMIT_OPTS is split like a shell line: keep paths plain
    if any(c.isspace() or c in "'\"\\" for c in cds):
        return {}, None
    java_home = _java_home()
    # dynamic archives arrived in JDK 13 (JEP 350); older JVMs reject the flags
    if int(_java_version(java_home).split(".")[0]) < 13:
        return {}, None
    key = _cds_key(java_home, os.path.join(spark_home, "jars"), pyspark.__version__)
    conf = os.path.join(cds, "conf")
    os.makedirs(conf, exist_ok=True)
    env = {"SPARK_CONF_DIR": conf}
    archive = os.path.join(cds, key + ".jsa")
    if not os.path.isfile(archive):
        return env, (cds, key)
    flags = " ".join((f"-XX:SharedArchiveFile={archive}",) + _CDS_FLAGS)
    user = os.environ.get("SPARK_SUBMIT_OPTS")
    env["SPARK_SUBMIT_OPTS"] = f"{flags} {user}" if user else flags
    return env, None


@contextlib.contextmanager
def _driver_jvm_env():
    """Around ``getOrCreate``: when it will launch a new driver JVM, set
    the CDS variables for that launch only, and restore ``os.environ``
    afterwards. Any error on the way means a normal start. A missing
    archive's dumper starts once the session is up, so its JVM start
    does not compete with the session's own (measured: +4% normalised
    CPU on the session start when both ran at once)."""
    from pyspark import SparkContext

    env, dump = {}, None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        try:
            env, dump = _cds_launch_env()
        except (OSError, ValueError):
            env, dump = {}, None
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    if dump is not None:
        try:
            _start_dumper(*dump)
        except (OSError, subprocess.SubprocessError):
            pass


# Runtime-settable confs this engine depends on; get_spark's builder
# sets them and ensure_session_confs applies them to sessions it did
# not build. Static confs (e.g.
# spark.python.sql.dataFrameDebugging.enabled) belong in get_spark's
# builder only: setting one on a live session raises
# CANNOT_MODIFY_STATIC_CONFIG.
SESSION_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
    # nanosecond timestamp type — read as bigint ns-since-epoch and
    # convert with ns_to_timestamp() where needed.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Subset co-partitioning (the pre-3.3 behavior): a child already
    # hashpartitioned on a SUBSET of the join keys joins in place.
    # Several self-join operators are designed around this — e.g.
    # embedding_near_dup_pairs partitions on `bucket` once (window
    # + both join sides share the exchange) and joins on (bucket,
    # refine-subkey); with the default `true`, the planner inserts
    # a fresh (bucket, _sub) exchange per side and the shared-scan
    # design degrades to two full corpus evaluations.
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply :data:`SESSION_CONFS` to an EXTERNALLY-created session (e.g.
    the verification driver's). Without nanosAsLong, reading the
    TIMESTAMP(NANOS) events table throws PARQUET_TYPE_ILLEGAL; non-UTC
    session time would shift timestamp comparisons against the
    TZ-naive oracle.

    NB this intentionally MUTATES the caller's session (the settings
    must hold at execution time, which may be long after plan
    construction) — documented side effect, set only when differing to
    avoid repeated JVM round trips, and never for a conf the session
    reports as not modifiable. A session whose Python workers cannot
    import the package also gets it shipped (:func:`_ship_package`).
    """
    for k, v in SESSION_CONFS.items():
        try:
            current = spark.conf.get(k)
        except Exception:  # noqa: BLE001 - unset conf
            current = None
        if current != v and spark.conf.isModifiable(k):
            spark.conf.set(k, v)
    _ship_package(spark)
    return spark


_PACKAGE_ZIP = "petastorm_spark.zip"


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable by the Python workers of a session
    get_spark did not build. Its ``spark.executorEnv.PYTHONPATH`` is a
    static conf, so a bare session's workers find the package only from
    the driver's working directory; this ships a zip of it with
    ``addPyFile`` instead, which the workers put on ``sys.path``. Once
    per SparkContext: both checks read Python-side state of the
    context, so later calls make no JVM round trip."""
    sc = getattr(spark, "sparkContext", None)
    if (
        sc is None
        or _PACKAGE_ZIP in sc._python_includes
        or _PACKAGE_PARENT in sc.environment.get("PYTHONPATH", "").split(os.pathsep)
    ):
        return
    out = tempfile.mkdtemp(prefix="petastorm_spark_py_")
    atexit.register(shutil.rmtree, out, True)
    path = os.path.join(out, _PACKAGE_ZIP)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(os.path.join(_PACKAGE_PARENT, "petastorm_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, _PACKAGE_PARENT))
    sc.addPyFile(path)


# Every intermediate the package materializes goes through
# materialize() and is registered here until release() or
# release_persisted() frees it. A lazily returned result may be backed
# by such materializations (an operator cannot free what the caller has
# not yet read), so call release_persisted() once the result is
# consumed. spark.catalog.clearCache() is no substitute: it drops
# persisted plans but never frees local-checkpoint blocks.
_MATERIALIZED: list[tuple[DataFrame, bool]] = []
_MATERIALIZED_LOCK = threading.Lock()


def materialize(df: DataFrame, *, cut: bool = False) -> DataFrame:
    """Materialize ``df`` and register it for release.

    ``cut=False`` persists lazily at MEMORY_AND_DISK: the plan is kept,
    so the cached relation keeps its output partitioning. ``cut=True``
    runs an eager ``localCheckpoint``, which cuts lineage; use it for
    iterated tables and for frames read before their source is
    overwritten."""
    df = df.localCheckpoint(eager=True) if cut else df.persist(
        StorageLevel.MEMORY_AND_DISK
    )
    with _MATERIALIZED_LOCK:
        _MATERIALIZED.append((df, cut))
    return df


def _free(df: DataFrame, cut: bool) -> None:
    if cut:
        # DataFrame.unpersist() is a no-op on a checkpointed frame: its
        # blocks belong to the RDD under the LogicalRDD leaf. Freed
        # through the SparkContext: RDD.unpersist() would also log a
        # "lineage has been truncated" WARN for every release.
        rdd = df._jdf.queryExecution().analyzed().rdd()
        rdd.context().unpersistRDD(rdd.id(), False)
    else:
        df.unpersist()


def release(*dfs) -> None:
    """Free frames returned by materialize(). Anything else (None, an
    unregistered or already released frame) is ignored. Reading a
    released checkpoint afterwards fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    for df in dfs:
        with _MATERIALIZED_LOCK:
            found = [i for i, (held, _) in enumerate(_MATERIALIZED) if held is df]
            entry = _MATERIALIZED.pop(found[0]) if found else None
        if entry is not None:
            _free(*entry)


def release_persisted() -> int:
    """Free every materialization still registered; call once the
    lazily returned results are consumed. Returns how many were freed."""
    with _MATERIALIZED_LOCK:
        held = _MATERIALIZED[::-1]
        _MATERIALIZED.clear()
    n = 0
    for df, cut in held:
        try:
            _free(df, cut)
            n += 1
        except Exception:  # noqa: BLE001 - session may be gone
            pass
    return n


def arrow_local_df(spark: SparkSession, data: dict, schema: str):
    """createDataFrame for small driver-local tables via the
    pandas->Arrow path. A plain Row-list ``createDataFrame``
    parallelizes through pyspark.daemon, and with worker reuse every
    such call can leave up to ``defaultParallelism`` forked python
    workers (~58 MB each once warm) resident for the session's
    lifetime — measured 2.2 GB after one bench sweep at local[32]. The
    Arrow path converts driver-side and ships record batches straight
    to the JVM: zero python workers. ``data`` maps column name ->
    list of values (lists for array columns are fine)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(data), schema=schema)


def events_ts_us(df, col: str = "ts"):
    """Epoch-microseconds bigint Column for an event-time column,
    robust to every layout the testdata has shipped:

    - bigint (TIMESTAMP(NANOS) parquet read under ``nanosAsLong``):
      nanoseconds-since-epoch -> ``div 1000``;
    - TIMESTAMP_NTZ (timestamp[us] parquet, Spark 4's default
      ``inferTimestampNTZ``): wall-clock microseconds via a tz-free
      ``timestampdiff`` against the NTZ epoch — matches DuckDB's
      ``epoch_us`` on its naive TIMESTAMP exactly, independent of the
      session time zone;
    - TIMESTAMP (ltz): instant-based ``unix_micros``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        TimestampNTZType,
        TimestampType,
    )

    dt = df.schema[col].dataType
    if isinstance(dt, (LongType, IntegerType)):
        return F.expr(f"{col} div 1000").cast("bigint")
    if isinstance(dt, TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        ).cast("bigint")
    if isinstance(dt, TimestampType):
        return F.unix_micros(F.col(col))
    raise TypeError(f"unsupported event-time type for {col!r}: {dt}")


def ns_to_timestamp(col):
    """bigint nanoseconds-since-epoch -> TimestampType (microsecond
    precision, truncating — matches how DuckDB reads TIMESTAMP(NANOS))."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    # exact decimal division — double division loses precision on int64 nanos
    us = F.floor(c.cast("decimal(28,0)") / F.lit(1000)).cast("bigint")
    return F.timestamp_micros(us)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the testdata star schema as a dict of DataFrames."""
    from petastorm_spark.sql import TESTDATA_TABLES

    names = names or TESTDATA_TABLES
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
