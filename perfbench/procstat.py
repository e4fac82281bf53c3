"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this (driver) process, the JVM it launched, the pyspark
daemon the JVM forks and that daemon's Python workers. CPU counts
utime+stime of every live process plus cutime+cstime (children that
already exited and were reaped). Resident memory is the sum of VmRSS.
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
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> dict[int, str]:
    """pid → kind ("driver", "jvm" or "python") for ``root`` and every
    descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        out[pid] = "driver" if pid == root else _kind(pid)
        todo.extend(children.get(pid, ()))
    return out


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0]
    except OSError:
        return "python"
    return "jvm" if exe.endswith(b"java") else "python"


def cpu_s(pids: dict[int, str]) -> dict[str, float]:
    """CPU seconds per process kind, plus ``total``."""
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for pid, kind in pids.items():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 (utime stime cutime cstime) sit at 11..14 here
            out[kind] += sum(int(x) for x in st[11:15]) / _TICK
    out["total"] = sum(out.values())
    return out


def rss_mb(pids: dict[int, str]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine since boot. Steal is time
    a hypervisor ran something else on this machine's CPUs: load the
    benchmark does not control."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class Meter:
    """CPU over a measured phase, and peak RSS sampled at operation
    boundaries (the benchmark adds no sampling thread)."""

    def __init__(self) -> None:
        self.pids = tree()
        self.start = cpu_s(self.pids)
        self.peak_mb = rss_mb(self.pids)
        self.ticks = host_ticks()

    def sample(self) -> None:
        self.pids = tree()
        self.peak_mb = max(self.peak_mb, rss_mb(self.pids))

    def steal_frac(self) -> float:
        steal, total = host_ticks()
        return (steal - self.ticks[0]) / max(1, total - self.ticks[1])

    def cpu(self) -> dict[str, float]:
        # processes that exited during the phase are counted by their
        # parent's cutime; a pid alive at both ends is differenced
        now = cpu_s(self.pids)
        return {k: now[k] - self.start[k] for k in now}
