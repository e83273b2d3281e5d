"""Host-side probes read from /proc: peak resident memory of the Spark
JVM and its Python workers, load average and hypervisor steal.

``psutil`` is not assumed; everything here reads /proc directly.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[tuple[int, str]]]:
    """ppid -> [(pid, command name)] over every process in /proc."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        name = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append((int(entry), name))
    return kids


def _kb(path: str, field: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:  # the process ended
        pass
    return 0


def tree_rss_mb(jvm_pid: int) -> float:
    """Resident memory of the JVM plus its Python workers, in MB.

    The JVM counts by RSS.  Python processes descending from it (the
    PySpark daemon and the workers it forks) count by PSS, which splits
    the copy-on-write pages they share instead of counting them in every
    worker.  Other children are skipped: the JVM starts helpers such as
    ``rm`` with vfork, and until they exec they report the JVM's own RSS.
    """
    kids = _children_map()
    total = _kb(f"/proc/{jvm_pid}/status", "VmRSS:")
    stack = list(kids.get(jvm_pid, ()))
    while stack:
        pid, name = stack.pop()
        if name.startswith("python"):
            total += _kb(f"/proc/{pid}/smaps_rollup", "Pss:")
            stack.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples :func:`tree_rss_mb` on a background thread while active;
    ``peak_mb`` is the largest sample seen."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.jvm_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.jvm_pid))


def cpu_totals() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat.  Busy excludes idle and
    iowait, so steal is taken as a share of the cycles the guest wanted
    (the convention bench.py uses)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = list(map(int, f[1:]))
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle, steal


class HostWindow:
    """Load average and busy-steal share around one run, so a noisy run
    can be attributed to the host rather than the program."""

    def __enter__(self) -> "HostWindow":
        self.load0 = os.getloadavg()[0]
        self._c0 = cpu_totals()
        return self

    def __exit__(self, *exc) -> None:
        self.load1 = os.getloadavg()[0]
        c1 = cpu_totals()
        self.steal = (c1[1] - self._c0[1]) / max(c1[0] - self._c0[0], 1)

    def record(self) -> dict:
        return {
            "load0": round(self.load0, 2),
            "load1": round(self.load1, 2),
            "steal": round(self.steal, 4),
        }
