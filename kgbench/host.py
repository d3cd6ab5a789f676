"""Host record and resident-memory sampling, read from /proc (Linux).

The record is for reporting: no run is dropped or retried for what it says.
"""

from __future__ import annotations

import os
import platform
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def versions() -> dict:
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the command name may hold spaces; ppid follows its ')'
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root: int, jvm: bool = True) -> tuple[float, float]:
    """Resident memory of `root` and all its descendants (here the driver
    Python process, the JVM it launched and the JVM's Python workers), as
    the sum of their proportional set sizes: a page shared by n processes
    counts 1/n in each, so the workers forked from one daemon do not count
    the daemon's pages once per worker. Returns (all processes, all but the
    JVM). Reading a multi-GB JVM's figure takes ~50 ms of kernel time under
    the JVM's memory-map lock; with jvm=False it is skipped and counts 0."""
    kids = _children()
    todo, total, java = [root], 0, 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
            if is_jvm and not jvm:
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb = int(line.split()[1])
                        total += kb
                        java += kb if is_jvm else 0
                        break
        except OSError:
            continue
    return total / 1024, (total - java) / 1024


class RssSampler:
    """Background sampler of the process tree's resident memory
    (tree_rss_mb, the JVM included if `jvm`): the peak over the sampler's
    life (peak_mb), and the peaks since the previous lap() (what lap
    returns: all processes, all but the JVM)."""

    def __init__(self, interval_s: float = 0.2, jvm: bool = True) -> None:
        self.interval_s = interval_s
        self.jvm = jvm
        self.peak_mb = 0.0
        self._lap = (0.0, 0.0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _sample(self) -> None:
        total, python = tree_rss_mb(os.getpid(), self.jvm)
        with self._lock:
            self.peak_mb = max(self.peak_mb, total)
            self._lap = (max(self._lap[0], total), max(self._lap[1], python))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def lap(self) -> tuple[float, float]:
        self._sample()
        with self._lock:
            peaks, self._lap = self._lap, (0.0, 0.0)
        return peaks

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
