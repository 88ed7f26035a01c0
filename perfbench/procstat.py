"""Process-tree CPU and memory readings from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launched, and the Python workers the JVM forks.  CPU is split along
those three; resident memory is summed over the whole tree.
"""

from __future__ import annotations

import os
import threading

HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, own jiffies, reaped-children jiffies)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1:s.rindex(")")]
        rest = s[s.rindex(")") + 2:].split()
        out[int(d)] = (
            int(rest[1]),
            comm,
            int(rest[11]) + int(rest[12]),
            int(rest[13]) + int(rest[14]),
        )
    return out


def _descendants(procs, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far of the driver (own time only), the JVM (own
    time) and the Python workers (every JVM descendant, live or reaped)."""
    root = os.getpid() if root is None else root
    procs = _procs()
    out = {"python": 0.0, "jvm": 0.0, "pyworker": 0.0}
    if root not in procs:
        return out
    out["python"] = procs[root][2] / HZ
    for pid in _descendants(procs, root):
        ppid, comm, own, reaped = procs[pid]
        if comm == "java" and ppid == root:
            out["jvm"] += own / HZ
            out["pyworker"] += reaped / HZ
        elif ppid != root:
            out["pyworker"] += (own + reaped) / HZ
    return out


def tree_rss_bytes(root: int | None = None) -> int:
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root] + _descendants(_procs(), root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the tree's resident memory on a thread; keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
