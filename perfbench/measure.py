"""Summary statistics and host probes used by every workload."""

from __future__ import annotations

import math
import os
import time


def tail_percentile(samples: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile that leaves at least ten samples above it,
    as ``(percentile, value)`` by the nearest-rank rule. None below eleven
    samples, where no percentile has ten samples beyond it."""
    n = len(samples)
    if n <= 10:
        return None
    pct = math.floor(100 * (n - 10) / n)
    rank = math.ceil(pct * n / 100)
    return pct, float(sorted(samples)[rank - 1])


def spin_ms(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-thread integer loop. Constant on an idle
    host; CPU stolen by other tenants inflates it, so a reading well above
    the run's first one marks a contended window."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i & 7
    return (time.perf_counter() - t0) * 1000


def host_cpu_s() -> tuple[float, float]:
    """``(busy, stolen)`` CPU seconds of this guest so far, summed over its
    CPUs, from /proc/stat. Busy is user, nice, system, irq and softirq time;
    stolen is time a CPU was ready to run while the hypervisor ran another
    tenant instead."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz


class Stopwatch:
    """Wall, net and CPU time since it was started.

    Net time is wall time scaled by the share of the CPU time the guest asked
    for that the hypervisor granted, busy / (busy + stolen), over the same
    interval. On a host of its own that share is 1 and net equals wall; on a
    shared virtual host it takes out the waits other tenants impose, which
    otherwise move wall time by tens of percent from run to run. CPU time is
    that of this process and its descendants (``tree_cpu_s``)."""

    def __init__(self) -> None:
        self.wall = time.perf_counter()
        self.cpu = tree_cpu_s(os.getpid())
        self.busy, self.stolen = host_cpu_s()

    def read(self) -> tuple[float, float, float]:
        """``(wall_s, net_s, cpu_s)`` since start."""
        wall = time.perf_counter() - self.wall
        cpu = tree_cpu_s(os.getpid()) - self.cpu
        busy, stolen = host_cpu_s()
        busy, stolen = busy - self.busy, stolen - self.stolen
        net = wall * busy / (busy + stolen) if busy + stolen > 0 else wall
        return wall, net, cpu


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid``, from the /proc parent links."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and its live descendants, counting
    the children they have already reaped. Time the hypervisor steals from
    this guest is not counted, so this reads the same on a busy host."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
