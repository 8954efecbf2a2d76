"""Process-tree accounting from ``/proc``: CPU per process class, peak RSS and
Python-worker count for this process and everything it started.

Classes: ``driver`` (this process), ``jvm`` (the Spark JVM and any other
non-Python descendant) and ``pyworker`` (Python descendants: PySpark's worker
daemon, its forked workers and planner workers). A process's CPU includes
its reaped children (``cutime``/``cstime``), so a worker that exits between
two samples still counts, in its parent's class.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    rest = raw[raw.rindex(b")") + 2 :].split()
    # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12 cutime=13
    # cstime=14 ... rss=21
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return int(rest[1]), cpu, int(rest[21]) * _PAGE


def mark() -> tuple[float, float, float]:
    """(perf_counter, busy CPU seconds, stolen CPU seconds) of the whole VM,
    from the first line of ``/proc/stat``. Stolen time is time a virtual CPU
    had work to run while the hypervisor ran another guest."""
    with open("/proc/stat", "rb") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return time.perf_counter(), (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def unstolen(a: tuple[float, float, float], b: tuple[float, float, float]) -> float:
    """Wall seconds from mark ``a`` to mark ``b`` without the host's share:
    wall x busy / (busy + stolen). On a shared host the hypervisor withholds
    a varying share of the CPU time the VM asks for (0-45% here, minute to
    minute); the program's wall time stretches by about 1 / (1 - share),
    while its CPU time does not."""
    wall, busy, stolen = b[0] - a[0], b[1] - a[1], b[2] - a[2]
    return wall * busy / (busy + stolen) if busy + stolen > 0 else wall


def _is_python(pid: int) -> bool:
    try:
        exe = os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return False
    return "python" in os.path.basename(exe)


class ProcessTree:
    """Samples this process's tree; ``start()`` runs a background sampler
    for peak RSS and worker counts, ``cpu()`` reads CPU synchronously."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.pyworkers: set[int] = set()
        self._kind: dict[int, str] = {self.root: "driver"}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()

    def _sample(self) -> dict[int, tuple[float, int]]:
        procs: dict[int, tuple[int, float, int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    procs[int(name)] = s
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        tree: dict[int, tuple[float, int]] = {}
        todo = [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                tree[pid] = procs[pid][1:]
                todo.extend(children.get(pid, ()))
        with self._lock:
            for pid in tree:
                if pid not in self._kind:
                    self._kind[pid] = "pyworker" if _is_python(pid) else "jvm"
                if self._kind[pid] == "pyworker":
                    self.pyworkers.add(pid)
            self.peak_rss = max(self.peak_rss, sum(r for _, r in tree.values()))
        return tree

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far per class, for the processes alive now."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        tree = self._sample()
        with self._lock:
            for pid, (cpu, _) in tree.items():
                out[self._kind[pid]] += cpu
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0
            self.pyworkers = set()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def descendants(root: int) -> set[int]:
    """Every live process below ``root``."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                parent[int(name)] = s[0]
    out: set[int] = set()
    todo = [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        todo.extend(kids)
    return out


def reap(pids: set[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if _stat(p) is not None}
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
