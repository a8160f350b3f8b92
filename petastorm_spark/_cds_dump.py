"""Build the driver JVM's class-data-sharing archive for
:func:`petastorm_spark.session.get_spark`.

``python -m petastorm_spark._cds_dump <cache dir> <key>`` is started
detached, at idle CPU priority and with its output to /dev/null, by a
session that found no archive for ``key``, once that session is up and
after it took ``<key>.lock`` in the cache dir. It runs a generic
session and one small query (a range written as parquet in a temp dir,
read back and grouped) in a JVM started with
``-XX:ArchiveClassesAtExit=<key>.<pid>.tmp``, never the user's own
session, so the archive does not depend on which workload ran first. It
then stops the JVM (closing its stdin makes it exit, and the JVM writes
the archive on the way out) and, when the query succeeded and the JVM
exited cleanly, renames the file to ``<key>.jsa`` so no session ever
maps a partial archive. Last it deletes the archives of other keys
(~165 MB each) and the lock. A failed dump leaves the lock in place, so
the next try waits for the lock to go stale.
"""

import os
import subprocess
import sys
import tempfile


def _dump(cds: str, tmp: str) -> bool:
    """Run the generic session with the archive dump on; True when its
    query succeeded, the JVM exited with 0 and the archive exists."""
    from pyspark.sql import functions as F

    from petastorm_spark.session import get_spark

    # the conf dir CDS sessions launch with, so the classpaths match (a
    # set SPARK_CONF_DIR also keeps get_spark's own CDS path out of this
    # launch); no user JVM or submit options, a small heap, two cores.
    # C1 only: the archive holds class metadata, not compiled code, and
    # C2 cost the dump a third of its CPU (50 vs 32 s on 4 vCPUs).
    os.environ["SPARK_CONF_DIR"] = os.path.join(cds, "conf")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"-XX:ArchiveClassesAtExit={tmp} -XX:TieredStopAtLevel=1 "
        "-Xlog:cds=off -Xlog:cds+dynamic=off"
    )
    for k in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    with tempfile.TemporaryDirectory(prefix="work.", dir=cds) as work:
        os.environ["SPARK_LOCAL_DIRS"] = work
        spark = get_spark("petastorm_spark_cds_dump", cpus=2)
        proc = spark.sparkContext._gateway.proc
        ran = False
        try:
            path = os.path.join(work, "t.parquet")
            spark.range(1000).selectExpr("id % 7 AS k", "id AS v").write.parquet(path)
            spark.read.parquet(path).groupBy("k").agg(F.sum("v")).collect()
            ran = True
        finally:
            spark.stop()
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                code = proc.wait(timeout=600)
            except subprocess.TimeoutExpired:
                proc.kill()
                raise
    return ran and code == 0 and os.path.getsize(tmp) > 0


def _prune(cds: str, key: str) -> None:
    """Delete the archives of other keys and the temp files of dumpers
    that are gone."""
    for name in os.listdir(cds):
        path = os.path.join(cds, name)
        if name.endswith(".jsa") and name != key + ".jsa":
            os.unlink(path)
        elif name.endswith(".tmp"):
            try:
                os.kill(int(name.split(".")[-2]), 0)
            except (ValueError, IndexError, ProcessLookupError):
                os.unlink(path)
            except PermissionError:
                pass


def main(cds: str, key: str) -> int:
    # run only on CPUs the user's work leaves idle (the policy is
    # inherited by the JVM's threads)
    os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    lock = os.path.join(cds, key + ".lock")
    tmp = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    ok = False
    try:
        ok = _dump(cds, tmp)
        if ok:
            os.replace(tmp, os.path.join(cds, key + ".jsa"))
            _prune(cds, key)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
        try:
            if ok:
                os.unlink(lock)
            else:
                os.utime(lock)  # retry only once the lock goes stale
        except FileNotFoundError:
            pass
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
