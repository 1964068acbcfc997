"""CPU time and resident memory of a process tree, read from /proc.

The Spark driver is a Python process; it launches the JVM, which forks the
Python worker daemon and its workers.  CPU is summed over the whole tree,
including the time of children that already exited and were reaped
(``cutime``/``cstime``), so a worker that dies during a job still counts.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # the command name may contain spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and all its descendants,
    reaped children included."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of every process below
    ``root``: the JVM and the Python worker daemon and workers."""
    return sum(_vm_hwm_kb(pid) for pid in descendants(root)) / 1024.0
