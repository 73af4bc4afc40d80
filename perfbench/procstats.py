"""CPU time and peak RSS of a process tree, read from /proc.

The tree is the Spark JVM and everything below it: the Python daemon and
the Python workers it forks.  CPU counts the live processes' own time
plus the time of children they have already reaped, so a worker that
exits inside a window keeps its seconds.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            parent[int(name)] = int(st[1])
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(c for c, p in parent.items() if p == pid)
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def status_mb(pid: int, field: str) -> float:
    """A memory field of /proc/<pid>/status (``VmRSS``, ``VmHWM``) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(field)


def range_rss_mb(pid: int, lo: int, hi: int) -> float:
    """Resident MB of the mappings of ``pid`` that lie inside [lo, hi)."""
    kb, inside = 0, False
    with open(f"/proc/{pid}/smaps") as f:
        for line in f:
            key = line.split(None, 1)[0]
            if not key.endswith(":"):  # a mapping's header: start-end perms ...
                start, end = (int(x, 16) for x in key.split("-"))
                inside = lo <= start and end <= hi
            elif inside and key == "Rss:":
                kb += int(line.split()[1])
    return kb / 1024.0


def peak_rss_mb(root: int) -> dict[int, float]:
    """Each live process's peak resident set (VmHWM), by pid."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out
