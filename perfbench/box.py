"""What the box did during a run, read from ``/proc``.

- :class:`RssSampler` samples the resident memory of this process and
  every descendant (the driver JVM, the Python worker daemon and its
  workers) on a background thread and keeps the peak of their sum. It
  sums proportional set sizes (``Pss`` in ``smaps_rollup``): forked
  Python workers share the daemon's pages, and summing plain RSS
  counts those pages once per worker alive at that instant.
- :func:`cpu_jiffies` / :func:`busy_steal_cores` turn two ``/proc/stat``
  readings into busy and hypervisor-stolen cores, the same idea as the
  repo's ``bench.py`` steal sampling: a run whose window lost material
  CPU to a neighbour is flagged, not silently kept.
"""

from __future__ import annotations

import os
import threading

#: a window that lost more than this many cores to steal is flagged
STEAL_FLAG_CORES = 0.3


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed Pss of a process tree, sampled every ``period_s``."""

    def __init__(self, root: int | None = None, period_s: float = 0.25) -> None:
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        total = sum(_pss_bytes(p) for p in process_tree(self.root))
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        """Take a last sample and stop; the peak is fixed from then on."""
        if self._stop.is_set():
            return
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()


def cpu_jiffies() -> tuple[int, int, int]:
    """(total, idle + iowait, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals), vals[3] + vals[4], vals[7]


def busy_steal_cores(before: tuple[int, int, int], after: tuple[int, int, int]) -> tuple[float, float]:
    """Average busy and stolen cores between two :func:`cpu_jiffies`."""
    ncpu = os.cpu_count() or 1
    total = max(after[0] - before[0], 1)
    idle = after[1] - before[1]
    steal = after[2] - before[2]
    return (total - idle - steal) / total * ncpu, steal / total * ncpu

