"""CPU seconds and resident memory of this process and all its descendants.

Read from ``/proc``, so the driver JVM, the Python driver and the PySpark
UDF workers are all counted without any hook inside the program.

CPU: each live process contributes ``utime + stime + cutime + cstime``.
A worker that exits is reaped by its parent (the PySpark daemon), whose
``cutime``/``cstime`` then carry its CPU, so the sum neither loses nor
double-counts work as workers come and go.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces and ')': split after the last ')'
    return data.rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[str]:
    """``root`` and every process descended from it."""
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None:
                children.setdefault(f[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _is_python_worker(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def tree_cpu_s(root: int | None = None, python_workers_only: bool = False) -> float:
    """CPU seconds used so far by the process tree under ``root``.

    ``python_workers_only`` restricts the sum to the PySpark daemon and the
    UDF workers it forks (which inherit its command line)."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        if python_workers_only and not _is_python_worker(pid):
            continue
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's RSS on a background thread until stopped."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
