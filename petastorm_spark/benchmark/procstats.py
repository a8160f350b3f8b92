"""Process-tree RSS / CPU sampling via procfs (no psutil in the
container).

Parity surface: /root/reference/petastorm/benchmark/throughput.py:77-90
reports ``memory_info`` (RSS) and ``cpu`` (percent over the measure
window) alongside samples/sec via psutil. The engine's reader does its
columnar scan inside the driver JVM (a *child* process of Python), so a
single-process probe would miss most of the footprint — these helpers
sum the python process and every live descendant (the JVM, any
process-pool workers).

Linux-only by construction; callers treat ``None`` as "unavailable".
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat with the (space-containing) comm
    field collapsed, so ppid is index 3, utime 13, stime 14."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm is parenthesized and may contain spaces/parens
    rp = raw.rfind(")")
    return ["", ""] + raw[rp + 2 :].split()


def _descendants(root: int) -> list[int]:
    """root + all live descendant pids (one /proc scan)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        fields = _stat_fields(pid)
        if fields is None:
            continue
        try:
            ppid = int(fields[3])
        except (IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(pid)
    out, queue = [], [root]
    while queue:
        pid = queue.pop()
        out.append(pid)
        queue.extend(children.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().decode("ascii", "replace").strip()
    except OSError:
        return ""


def process_tree_sample(root: int | None = None) -> dict | None:
    """One sample: ``{"rss_bytes": int, "cpu_seconds": float,
    "jvm_rss_bytes": int}`` summed over the process tree rooted at
    ``root`` (default: this process). ``jvm_rss_bytes`` is the subset
    contributed by ``java`` processes (the Spark driver JVM), so
    callers can report the iteration tier (python + pool workers) as
    ``rss_bytes - jvm_rss_bytes`` — the like-for-like column against
    the reference benchmark's single-process psutil RSS, where the
    whole-tree number also swallows the local[32] JVM heap. ``None``
    when procfs is unavailable (non-Linux)."""
    root = root if root is not None else os.getpid()
    if not os.path.isdir("/proc"):
        return None
    rss_pages = 0
    jvm_rss_pages = 0
    root_rss_pages = 0
    cpu_ticks = 0
    for pid in _descendants(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        try:
            cpu_ticks += int(fields[13]) + int(fields[14])  # utime+stime
            with open(f"/proc/{pid}/statm", "rb") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        rss_pages += pages
        if pid == root:
            root_rss_pages = pages
        if _comm(pid) == "java":
            jvm_rss_pages += pages
    return {
        "rss_bytes": rss_pages * _PAGE,
        "jvm_rss_bytes": jvm_rss_pages * _PAGE,
        # the root (benchmark) process alone — the closest analog of
        # the reference's single-process psutil RSS; the tree-minus-jvm
        # number additionally includes Spark's pyspark.daemon workers
        # left resident from earlier Arrow/UDF stages
        "root_rss_bytes": root_rss_pages * _PAGE,
        "cpu_seconds": cpu_ticks / _CLK_TCK,
    }


def cpu_percent(before: dict | None, after: dict | None, wall_seconds: float) -> float | None:
    """CPU%% over a wall-clock window from two tree samples (can exceed
    100 on multi-core, like psutil.Process.cpu_percent)."""
    if before is None or after is None or wall_seconds <= 0:
        return None
    return 100.0 * (after["cpu_seconds"] - before["cpu_seconds"]) / wall_seconds


def window_summary(before: dict | None, after: dict | None, wall_seconds: float) -> dict:
    """The columns a reader benchmark reports for one measured window,
    from the tree samples taken before and after it: RSS after the window
    (``rss_mb``), split into the tree minus java (``rss_iter_mb``), the
    driver JVM (``rss_jvm_mb``) and the measuring process alone
    (``rss_main_mb``), and CPU%% over the window (``cpu_pct``). A field is
    None when procfs is unavailable."""
    out = dict.fromkeys(("rss_mb", "rss_iter_mb", "rss_jvm_mb", "rss_main_mb"))
    if after is not None:
        rss, jvm = after["rss_bytes"], after["jvm_rss_bytes"]
        for key, n in zip(out, (rss, rss - jvm, jvm, after["root_rss_bytes"])):
            out[key] = round(n / 2**20, 1)
    cpu = cpu_percent(before, after, wall_seconds)
    out["cpu_pct"] = None if cpu is None else round(cpu, 1)
    return out
