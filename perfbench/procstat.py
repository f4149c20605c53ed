"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is this process plus every descendant: the driver's Python, the
JVM that spark-submit launches, and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
from typing import Dict, List

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may contain spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> List[int]:
    """``root`` and all of its live descendants."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: List[int]) -> float:
    """user+system CPU of ``pids``, including their reaped children, so
    workers that exited since the last reading still count."""
    total = 0
    for pid in pids:
        try:
            f = _stat(pid)
        except OSError:
            continue
        # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def reset_peak_rss(pids: List[int]) -> None:
    """Reset each process's high-water RSS mark (``VmHWM``) to its current RSS."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # exited, or not ours to reset


def peak_rss_bytes(pids: List[int]) -> int:
    """Sum over ``pids`` of each process's peak RSS since its last reset."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
