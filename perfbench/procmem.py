"""Peak resident memory of a process tree, sampled from ``/proc``.

The benchmark's process tree is the driver Python, the JVM it launches and
the Python workers the JVM forks; their RSS is summed at each sample and the
largest sum is the peak. ``psutil`` is not available, so the tree is rebuilt
from ``/proc/<pid>/stat`` parent links on every sample (workers come and go).
"""

from __future__ import annotations

import os
import threading


def _parent_links() -> dict[int, int]:
    links = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name, which may
        # itself contain spaces or parentheses
        rest = stat[stat.rfind(b")") + 2:].split()
        links[int(name)] = int(rest[1])
    return links


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_links().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, including the descendants they have already reaped."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_links().items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(b")") + 2:].split()
        ticks += sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_mb(root: int) -> float:
    """Summed RSS (MB) of ``root`` and all of its descendants, right now.

    A JVM that starts a subprocess forks itself first; until the child
    execs, it is a second ``java`` holding the parent's whole RSS in shared
    pages. Such java-under-java children are skipped, not double counted.
    """
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_links().items():
        children.setdefault(ppid, []).append(pid)
    total_kb, todo = 0, [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        total_kb += _rss_kb(pid)
        todo.extend((c, exe) for c in children.get(pid, ()))
    return total_kb / 1024.0


class PeakRss:
    """Background sampler: ``with PeakRss() as p: ...`` then ``p.peak_mb``."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
