"""CPU, RSS and host steal of a process tree, read from /proc.

The tree is the benchmark's own process and all its descendants: the
Spark JVM it launches and the Python workers the JVM forks. CPU is
utime+stime, plus cutime+cstime so that workers which exited and were
reaped by a parent inside the tree still count. Steal comes from the
``cpu`` line of /proc/stat and is a host-wide diagnostic only.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    # comm (field 2) may hold spaces; everything after its ')' splits.
    return raw[raw.rindex(")") + 2:].split()


def _tree() -> dict[int, list[str]]:
    """pid -> stat fields (from field 3 on) for self and descendants."""
    stats: dict[int, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                stats[int(pid)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    root = os.getpid()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_rss() -> tuple[float, float]:
    """(cpu seconds, rss bytes) summed over the tree.
    Fields after comm: utime=11, stime=12, cutime=13, cstime=14, rss=21."""
    cpu = rss = 0
    for fields in _tree().values():
        cpu += sum(int(fields[k]) for k in (11, 12, 13, 14))
        rss += int(fields[21])
    return cpu / _TICK, float(rss * _PAGE)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user, so count only the first eight.
    return vals[7], sum(vals[:8])


class TreeSampler:
    """Samples the tree's RSS in a background thread between start()
    and stop(); reads CPU and steal at both ends."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss = 0.0

    def _sample(self) -> float:
        cpu, rss = tree_cpu_rss()
        self.peak_rss = max(self.peak_rss, rss)
        return cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._steal0, self._total0 = host_cpu_ticks()
        self._cpu0 = self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        cpu1 = self._sample()
        steal1, total1 = host_cpu_ticks()
        return {
            "cpu_s": cpu1 - self._cpu0,
            "peak_rss_mb": self.peak_rss / 2**20,
            "steal_frac": (steal1 - self._steal0) / max(1, total1 - self._total0),
        }
