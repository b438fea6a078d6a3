"""Sample statistics and host readings shared by every workload."""

from __future__ import annotations

import math
import os

MIN_BEYOND = 10


def percentile(values, q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``values``, linearly interpolated,
    or None when fewer than ``MIN_BEYOND`` samples lie above it.

    An upper percentile is reported only when the sample supports it: p90
    needs at least 100 samples, more when values tie.  Medians use
    ``median`` and are always reported, with their sample count.
    """
    xs = sorted(values)
    if not xs:
        return None
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    val = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    if sum(1 for x in xs if x > val) < MIN_BEYOND:
        return None
    return val


def median(values) -> float:
    """Median of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def steal_ticks() -> int | None:
    """Host-wide CPU steal ticks so far (/proc/stat, 8th cpu field)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def loadavg_1m() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, IndexError, ValueError):
        return None


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


# Thread names (/proc comm, 15 characters) of the JVM's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, or None if it is gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process or thread ended while we looked
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _ticks(fields: list[str], children: bool) -> int:
    # utime, stime (stat fields 14-15), then cutime, cstime (16-17)
    return sum(int(x) for x in fields[11:15 if children else 13])


def work_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (default: this one) and
    all its live descendants, each with its reaped children (the Python
    driver, the JVM and the Python workers), less the JVM's JIT compiler
    threads.

    CPU time is what the work costs, and unlike wall time it does not grow
    when the host's other tenants take the cores.  JIT compilation is left
    out because in the first minutes of a JVM it takes more CPU than the
    work itself, at a pace set by the host's load.  The session runs with
    a fixed set of compiler threads, so none exits and takes its count
    with it.
    """
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")) is not None:
            procs[int(name)] = st
    ticks = 0
    for pid, (comm, fields) in procs.items():
        p = pid
        while p > 1 and p != root:
            p = int(procs[p][1][1]) if p in procs else 0
        if p != root:
            continue
        ticks += _ticks(fields, children=True)
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and st[0].startswith(JIT_THREADS):
                    ticks -= _ticks(st[1], children=False)
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")
