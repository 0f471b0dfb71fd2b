"""CPU seconds and resident memory of this process tree, read from /proc.

The tree is split three ways: the driver (this Python process), the JVM
(every ``java`` process in the tree) and the Python workers (everything
below a JVM).  A process that exits is reaped by its parent, which adds
the child's CPU to its own ``cutime``/``cstime``; summing all four fields
over live processes therefore keeps the CPU of exited workers.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Optional

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
CLASSES = ("driver", "jvm", "worker")


def _stat(pid: int) -> Optional[List[str]]:
    """Fields of /proc/<pid>/stat after the command name (index 0 is the
    state, field 3 of the file)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree(root: Optional[int] = None) -> Dict[int, str]:
    """pid -> class for ``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    parent: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    children: Dict[int, List[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out: Dict[int, str] = {}
    stack = [(root, "driver")]
    while stack:
        pid, cls = stack.pop()
        if cls == "driver" and _comm(pid) == "java":
            cls = "jvm"
        out[pid] = cls
        below = "worker" if cls in ("jvm", "worker") else "driver"
        stack.extend((c, below) for c in children.get(pid, ()))
    return out


def cpu_seconds() -> Dict[str, float]:
    """CPU seconds used so far by each class of the tree."""
    out = dict.fromkeys(CLASSES, 0.0)
    for pid, cls in tree().items():
        st = _stat(pid)
        if st is not None:
            out[cls] += sum(int(v) for v in st[11:15]) / CLK
    return out


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * PAGE / 2**20


class PeakRss:
    """Samples the tree's summed resident memory on a background thread
    while active; ``peak_mb`` is the largest sample."""

    PERIOD_S = 0.05
    RESCAN_EVERY = 20  # samples between re-listing the tree's pids

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        pids = list(tree())
        n = 0
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            if self._stop.wait(self.PERIOD_S):
                return
            n += 1
            if n % self.RESCAN_EVERY == 0:
                pids = list(tree())


def wait_children(timeout_s: float = 30.0) -> List[int]:
    """Wait until this process has no live descendants; returns the pids
    still alive at the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in tree() if p != os.getpid() and _alive(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"
