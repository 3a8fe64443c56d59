"""Process-tree memory sampling and host-noise readings from /proc."""

from __future__ import annotations

import os
import threading
import time


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
        # the comm field may hold spaces: the ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (driver JVM and
    Python workers included), as proportional set size so pages the forked
    Python workers share are counted once."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class Sampler:
    """Background sampler, once a second, of the process tree's memory and
    the host's CPU ticks and load, each reading stamped with wall time so a
    window can be picked out afterwards. Once a second because reading the
    driver JVM's ``smaps_rollup`` takes ~25 ms of kernel time on a 4-core VM
    and holds the JVM's memory-map lock while it does."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int, dict[str, int], float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.samples.append((time.time(), tree_rss_bytes(os.getpid()),
                             cpu_ticks(), loadavg()))

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def window(self, t0: float, t1: float) -> dict:
        """Peak memory over [t0, t1] (epoch seconds), and the steal and
        iowait shares of all CPU ticks and the 1-minute load average from
        the last reading at or before t0 to the first at or after t1."""
        before = [s for s in self.samples if s[0] <= t0] or self.samples[:1]
        after = [s for s in self.samples if s[0] >= t1] or self.samples[-1:]
        first, last = before[-1], after[0]
        inside = [s for s in self.samples if t0 <= s[0] <= last[0]]
        d = {k: last[2][k] - first[2][k] for k in last[2]}
        total = max(sum(d.values()), 1)
        return {
            "peak_rss_bytes": max(s[1] for s in inside),
            "steal_frac": round(d["steal"] / total, 4),
            "iowait_frac": round(d["iowait"] / total, 4),
            "loadavg_start": first[3],
            "loadavg_end": last[3],
        }


def cpu_ticks() -> dict[str, int]:
    """Aggregate CPU ticks from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal"]
    return dict(zip(names, vals + [0] * (len(names) - len(vals))))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
