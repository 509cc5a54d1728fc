"""Host context and process-tree memory, read from /proc.

``psutil`` is not available, so RSS and CPU counters come straight from
procfs. Everything here is metadata except the RSS peak: host figures
are printed beside a run's metrics and never scale them.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and of every descendant (driver, JVM,
    Python workers), by pid."""
    parent = _ppid_map()
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


class RssSampler:
    """The one extra thread the benchmark runs: samples the process
    tree's RSS inside its ``with`` block and keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me, prev = os.getpid(), set()
        while not self._stop.wait(self.interval_s):
            rss = tree_rss(me)
            # count a process only from its second sample on: a child the
            # JVM is spawning (chmod and the like) shares the JVM's
            # address space until it execs and would count the JVM twice
            self.peak = max(self.peak, sum(v for p, v in rss.items() if p in prev))
            prev = set(rss)


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(fields[:8]), fields[7]


def speed_probe() -> float:
    """Seconds for a fixed single-threaded Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


class HostContext:
    """cpus, load average, steal share and a speed probe, before/after."""

    def __init__(self):
        self.cpus = len(os.sched_getaffinity(0))
        self.load_start = loadavg()
        self.probe_before_s = speed_probe()
        self._ticks0 = _cpu_ticks()

    def finish(self) -> dict:
        total1, steal1 = _cpu_ticks()
        dt = total1 - self._ticks0[0]
        return {
            "cpus": self.cpus,
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
            "steal_pct": round(100.0 * (steal1 - self._ticks0[1]) / dt, 3) if dt else 0.0,
            "probe_before_s": round(self.probe_before_s, 4),
            "probe_after_s": round(speed_probe(), 4),
        }
