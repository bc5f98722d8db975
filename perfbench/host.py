"""Host facts and process-tree accounting, read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree(pid: int | None = None) -> list[int]:
    """``pid`` (default: this process) and all its live descendants."""
    root = os.getpid() if pid is None else pid
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def reset_peak_rss(pid: int | None = None) -> int:
    """Reset the peak resident set (VmHWM) of each live process of the tree
    to its current resident set; return how many were reset."""
    n = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
            n += 1
        except OSError:
            continue
    return n


def peak_rss_mb(pid: int | None = None) -> dict[int, float]:
    """Peak resident set (VmHWM) of each live process of the tree, in MiB."""
    out = {}
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out
