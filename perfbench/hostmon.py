"""Host and process-tree readings from /proc: CPU busy/steal, tree peak memory."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class CpuTimes:
    busy: float   # user+nice+system+irq+softirq seconds, steal excluded
    steal: float
    total: float  # every field, idle and steal included

    def __sub__(self, other: "CpuTimes") -> "CpuTimes":
        return CpuTimes(self.busy - other.busy, self.steal - other.steal,
                        self.total - other.total)

    def unstolen(self, wall: float) -> float:
        """``wall`` less the hypervisor's share. Steal counts only time a vCPU
        was ready to run but given no core, so the work was held back by the
        stolen share of the CPU time it asked for, steal / (busy + steal)."""
        asked = self.busy + self.steal
        return wall * self.busy / asked if asked > 0 else wall


def cpu_times() -> CpuTimes:
    """Host-wide CPU seconds from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (v + [0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return CpuTimes(busy / _TICK, steal / _TICK,
                    (busy + idle + iowait + steal) / _TICK)


def process_age_s() -> float:
    """Seconds since this process was started, from /proc (10 ms ticks)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICK


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def pss_bytes(pid: int) -> int:
    """A process's current proportional set size: its resident pages, each
    page shared with other processes counted as its share (Pss from
    smaps_rollup). Summed over a process tree, shared pages count once.
    Falls back to the resident size (VmRSS) where smaps_rollup is missing."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"), (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1]) * 1024
        except OSError:
            continue
    return 0


class RssSampler:
    """Background thread that keeps the peak memory of this process and all
    its descendants (the JVM, the Python daemon and its workers): at each
    sample it sums the live processes' current Pss, and it keeps the largest
    sum, so the peak is that of the whole tree at one moment."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        root = os.getpid()
        now = sum(pss_bytes(pid) for pid in [root, *descendants(root)])
        self.peak_bytes = max(self.peak_bytes, now)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

