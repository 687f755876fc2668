"""CPU time and resident memory of a process tree, read from ``/proc``.

psutil is not a dependency of the project, so the few fields the benchmark
needs are parsed by hand: ``/proc/<pid>/stat`` for the parent link and the
CPU clock ticks, ``/proc/<pid>/status`` for the resident-set high-water
mark. A process that exits between listing and reading is skipped.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name, so index 1 is
    the parent pid and 11..14 the user, system, waited-children user and
    waited-children system ticks."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    return data[data.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _pids() -> list[int]:
    return [int(n) for n in os.listdir("/proc") if n.isdigit()]


def children(pid: int) -> list[int]:
    out = []
    for p in _pids():
        try:
            if int(_stat_fields(p)[1]) == pid:
                out.append(p)
        except OSError:
            continue
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for p in _pids():
        try:
            kids.setdefault(int(_stat_fields(p)[1]), []).append(p)
        except OSError:
            continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def find_child(pid: int, comm: str) -> int | None:
    """First direct child of ``pid`` whose command name is ``comm``."""
    for c in children(pid):
        try:
            if _comm(c) == comm:
                return c
        except OSError:
            continue
    return None


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including children they have reaped
    (a Python worker that exited is counted in its daemon's waited time)."""
    total = 0
    for p in pids:
        try:
            f = _stat_fields(p)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICKS


def python_workers(jvm: int) -> list[int]:
    """The JVM's Python worker processes (the daemon and its forks)."""
    out = []
    for p in descendants(jvm):
        if p == jvm:
            continue
        try:
            if _comm(p).startswith("python"):
                out.append(p)
        except OSError:
            continue
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the resident-set high-water marks (``VmHWM``) of ``pids``."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def in_dir(d: str) -> list[int]:
    """Live processes whose working directory is ``d`` or below it."""
    out = []
    for p in _pids():
        try:
            cwd = os.readlink(f"/proc/{p}/cwd")
        except OSError:
            continue
        if cwd == d or cwd.startswith(d + os.sep):
            out.append(p)
    return out


def cpu_steal() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the whole machine so far: time the
    hypervisor ran something else while the (virtual) CPUs wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)
