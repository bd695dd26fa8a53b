"""CPU time and peak memory of the benchmark's own process tree, read
from /proc: the Python driver, the Spark JVM it launched, the PySpark
daemon and its Python workers.

CPU sums ``utime + stime`` of every live process in the tree plus
``cutime + cstime``, which hold the CPU of children a process has
already reaped, so workers that exited still count.
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


def tree(root: int | None = None) -> list[int]:
    """Pids of ``root`` (default: this process) and all its descendants."""
    todo = [root or os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over ``pids``, in seconds."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name; utime is field 14
        rest = stat[stat.rindex(")") + 2:].split()
        ticks += int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return ticks / _TICK


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class PeakRss:
    """Peak resident memory of the tree: at each sample, the sum of the
    live processes' ``VmHWM`` (each one's own peak so far); the largest
    such sum is kept.  A worker that exited before a sample is not
    counted, and a replaced worker is not counted twice."""

    def __init__(self) -> None:
        self._peak_kb = 0

    def sample(self, pids: list[int]) -> None:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        self._peak_kb = max(self._peak_kb, total)

    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0
