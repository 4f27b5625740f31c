"""Process-tree CPU and memory, and whole-machine CPU, read from /proc."""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw.rsplit(")", 1)[1].split()


def children(pid: int) -> list[int]:
    """Live direct children of ``pid``."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(children.get(pid, []))
    return out


def cpu_seconds(pid: int) -> float:
    """user + system CPU of one process, its own threads only."""
    f = _stat_fields(pid)
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / _TCK


def rss_bytes(pid: int) -> int:
    f = _stat_fields(pid)
    return 0 if f is None else int(f[21]) * _PAGE


def tree_cpu_seconds(root: int) -> float:
    return sum(cpu_seconds(p) for p in tree_pids(root))


def machine_cpu() -> tuple[float, float]:
    """(busy, steal) cumulative CPU seconds of the whole machine.

    busy excludes idle, iowait, steal and the guest fields (Linux already
    counts guest time inside user), so its change over a run is the CPU
    every process on the machine burned; steal is time the hypervisor
    withheld from the machine's virtual CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:11]]
    busy = sum(vals) - vals[3] - vals[4] - vals[7] - vals[8] - vals[9]
    return busy / _TCK, vals[7] / _TCK
