"""CPU time and resident memory of a process tree, read from ``/proc``.

The benchmark process starts the Spark driver JVM, and the JVM forks the
Python workers, so the tree rooted at the benchmark process holds every
process that does work for a query.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name sits in parentheses and may contain spaces.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User plus system CPU of the tree, including children it has reaped.

    A worker that exits moves its time into its parent's ``cutime`` and
    ``cstime`` when reaped, so the sum stays monotonic as workers come and
    go.
    """
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5).
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (``VmHWM``), in MiB.

    This bounds the tree's peak from above: the processes need not peak
    at the same moment. The JVM dominates it.
    """
    kib = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])
    return uptime - start_ticks / _TICKS
