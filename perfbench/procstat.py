"""CPU and memory of the whole process tree, read from ``/proc``.

The benchmark's process starts the Spark JVM, which starts (and reuses)
Python worker processes; all of them do the work a run measures. A
process's ``utime + stime`` covers its own threads and ``cutime +
cstime`` the children it has reaped, so summing all four over every live
process in the tree counts each CPU-second once: a worker that exits is
folded into its parent's ``c*`` fields when reaped, and a live worker is
counted directly.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is fixed
    return data[data.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its parent counts as ended)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, own + reaped children) of the tree."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the tree's live processes, in MiB."""
    pages = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            pages += int(f[21])  # field 24: rss in pages
    return pages * _PAGE / 2**20
