"""CPU time and resident memory of a whole process tree, read from /proc.

The benchmark's client process starts the Spark driver JVM, which starts
the pyspark daemon and its Python workers.  :class:`TreeSampler` counts all
of them:

* ``cpu_s`` -- CPU seconds the tree used between ``start`` and ``stop``:
  utime + stime of every live process in the tree, plus cutime + cstime,
  which holds the CPU of children that already exited and were reaped.  A
  process that ends during the interval moves its time from the first sum
  into its parent's second, so it is counted once.
* ``rss_peak_mb`` -- the largest sum of resident set sizes of the tree seen
  by a background thread that samples every ``interval`` seconds.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and all its live descendants."""
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    # fields after the name: utime, stime, cutime, cstime are 12..15
    return sum(sum(int(x) for x in st[11:15]) for st in tree(root).values()) / _TICK


def tree_rss_mb(root: int) -> float:
    return sum(int(st[21]) for st in tree(root).values()) * _PAGE / 2**20


class TreeSampler:
    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.rss_peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.rss_peak_mb = max(self.rss_peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "TreeSampler":
        self._cpu0 = tree_cpu_s(self.root)
        self._thread.start()
        return self

    def stop(self) -> "TreeSampler":
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
        self._stop.set()
        self._thread.join()
        self.rss_peak_mb = max(self.rss_peak_mb, tree_rss_mb(self.root))
        return self


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def wait_gone(pids: set[int], timeout: float = 60.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what outlives
    ``timeout``.  Takes pids collected while they were still descendants,
    since a process whose parent exits is re-parented and leaves the tree."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
