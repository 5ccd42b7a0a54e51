"""Process-tree meter from ``/proc``: CPU seconds and peak RSS.

The tree is the benchmark's own process plus every descendant: the JVM
(started through spark-submit), the PySpark daemon and its Python workers.
Spark's status store counts executor CPU inside the JVM only, so Python
worker CPU (the extraction kernel) has to be read here.

CPU of a process that exited is counted through its parent's
``cutime``/``cstime`` once the parent has reaped it, so the tree total only
grows; take differences between two readings.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Tuple[str, List[str]]:
    """(comm, fields after comm) of /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read().decode(errors="replace")
    lpar, rpar = raw.index("("), raw.rindex(")")
    return raw[lpar + 1:rpar], raw[rpar + 2:].split()


def process_start_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick grain)."""
    _, fields = _stat(os.getpid())
    started = int(fields[19]) / _TICK
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - started)


class ProcTree:
    """Readings over the process tree rooted at ``root`` (default: self)."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def members(self) -> Dict[int, Tuple[str, List[str]]]:
        parents: Dict[int, int] = {}
        stats: Dict[int, Tuple[str, List[str]]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            pid = int(entry)
            try:
                comm, fields = _stat(pid)
            except (FileNotFoundError, ProcessLookupError, ValueError):
                continue
            parents[pid] = int(fields[1])
            stats[pid] = (comm, fields)
        tree = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parents.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return {pid: stats[pid] for pid in tree if pid in stats}

    def cpu_s(self) -> Dict[str, float]:
        """{'total': tree CPU s, 'python_workers': CPU s of the Python
        processes below the root (the PySpark daemon and its workers)}."""
        total = workers = 0.0
        for pid, (comm, f) in self.members().items():
            # utime stime cutime cstime
            cpu = sum(int(x) for x in f[11:15]) / _TICK
            total += cpu
            if pid != self.root and comm.startswith("python"):
                workers += cpu
        return {"total": total, "python_workers": workers}

    def read_bytes(self, comm: str = "java") -> int:
        """Bytes the tree's ``comm`` processes have read (``rchar`` of
        /proc/<pid>/io): what the JVM's scans pull through read calls,
        whichever thread or I/O path issues them."""
        total = 0
        for pid, (name, _) in self.members().items():
            if name != comm:
                continue
            try:
                with open(f"/proc/{pid}/io") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("rchar:"))
            except (FileNotFoundError, ProcessLookupError):
                continue
        return total

    def rss_bytes(self) -> int:
        rss = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * _PAGE
            except (FileNotFoundError, ProcessLookupError):
                continue
        return rss


class PeakRss:
    """Samples the tree's summed RSS on a daemon thread.

    ``lap()`` returns the peak (bytes) seen since the previous lap, so a
    caller can take one peak per measured pass.
    """

    def __init__(self, tree: ProcTree, interval_s: float = 0.2) -> None:
        self.tree = tree
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = self.tree.rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def lap(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
