"""Process-tree accounting from ``/proc``: CPU seconds and peak RSS.

PySpark forks its Python daemon from a non-main JVM thread, so walking
only ``/proc/<pid>/task/<pid>/children`` misses it and every Python
worker.  ``tree`` walks the children of *every* thread.  CPU counts
``utime + stime`` of each live process plus ``cutime + cstime``, the
CPU of children it has already reaped, so workers that exited inside a
measured region still count.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree() -> list[int]:
    """This process and all its descendants."""
    seen: list[int] = []
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_seconds(pid: int) -> float:
    """utime + stime + cutime + cstime of ``pid`` (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    # fields after the parenthesised comm; utime is field 14 overall
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(v) for v in fields[11:15]) / _TICK


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_workers(pids: list[int]) -> list[int]:
    """The PySpark daemon and its forked workers within ``pids``."""
    marks = ("pyspark.daemon", "pyspark.worker")
    return [p for p in pids if any(m in _cmdline(p) for m in marks)]


class TreeSample:
    """One reading of the tree: total CPU, Python-worker CPU, peak RSS.

    A reaped worker is counted once, in the daemon's ``cutime``; a live
    one in its own ``utime + stime``."""

    def __init__(self) -> None:
        pids = tree()
        self.cpu_s = sum(cpu_seconds(p) for p in pids)
        self.py_cpu_s = sum(cpu_seconds(p) for p in python_workers(pids))
        self.peak_rss_mb = sum(vm_hwm_kb(p) for p in pids) / 1024.0
