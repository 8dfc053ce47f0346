"""Host shape and process-tree accounting (Linux /proc only).

The run shape comes from the host: cores from the CPU affinity mask (what
``nproc`` prints), a driver heap sized from host memory, and one shuffle
partition per core. Load average and hypervisor steal are recorded with
every result so a noisy run can be recognised from its output.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_memory_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 ** 2)
    raise OSError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    """A quarter of host memory, 1-8 GiB: the crawl needs little heap at
    benchmark scale, and the host is shared."""
    return max(1, min(8, int(host_memory_gb() / 4)))


def loadavg() -> List[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_jiffies() -> Dict[str, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return {"total": sum(vals), "steal": vals[7] if len(vals) > 7 else 0}


def steal_frac(before: Dict[str, int], after: Dict[str, int]) -> float:
    dt = after["total"] - before["total"]
    return (after["steal"] - before["steal"]) / dt if dt > 0 else 0.0


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> List[int]:
    """Every live process below ``root`` (the JVM and its Python workers)."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the processes below ``root``, including
    their reaped children (a dead Python worker's time moves to its
    parent's cutime/cstime, so it is still counted)."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _resident_bytes(pid: int) -> int:
    """Resident bytes a process adds to the tree. A forked Python worker
    shares most of its pages with its daemon, so its proportional set size
    (PSS) is counted, not its RSS. The JVM forks nothing and its PSS is
    costly to read (~25 ms per read for a 3 GiB heap), so its RSS is used."""
    with open(f"/proc/{pid}/comm") as fh:
        is_jvm = fh.read().strip() == "java"
    if is_jvm:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_resident_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            total += _resident_bytes(pid)
        except OSError:  # the process exited between listing and reading
            pass
    return total


class PeakRss:
    """Samples the resident memory of the process tree below ``root`` every
    ``interval`` seconds on a background thread; ``peak`` is the largest sum
    seen between ``start`` and ``stop``. A sample costs ~10 ms of CPU (the
    workers' PSS), hence the half-second interval."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_resident_bytes(self.root))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak
