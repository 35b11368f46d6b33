"""Host-side measurements read from /proc: memory of the Spark processes the
benchmark started, CPU steal, load average, and library versions."""

from __future__ import annotations

import os
import platform
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants_rss_bytes(root: int) -> dict[str, int]:
    """Resident memory of the processes below ``root`` (the driver JVM and
    the Python workers it forks), not counting ``root`` itself, by kind:
    ``{"jvm": ..., "python": ...}``."""
    kids = _children()
    total = {"jvm": 0, "python": 0}
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            with open(f"/proc/{pid}/comm") as fh:
                kind = "jvm" if fh.read().strip() == "java" else "python"
        except (OSError, IndexError, ValueError):
            continue
        total[kind] += rss
    return total


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and every process below it
    (the driver JVM, the Python worker daemon and its workers): user +
    system time of the live ones plus what each has reaped from exited
    children. Time the hypervisor stole, or spent waiting for a CPU, is not
    counted, which is what keeps it steady on a shared machine."""
    kids = _children()
    ticks = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples descendant RSS every ``interval`` seconds while active and
    keeps the peak of the total and of each kind."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_by_kind = {"jvm": 0, "python": 0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def _sample(self) -> None:
        rss = descendants_rss_bytes(os.getpid())
        self.peak = max(self.peak, sum(rss.values()))
        for k, v in rss.items():
            self.peak_by_kind[k] = max(self.peak_by_kind[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[1] - before[1]) / max(after[0] - before[0], 1)


def versions(java: str) -> dict[str, str]:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": java,
    }
