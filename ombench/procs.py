"""The run's own process tree, read from ``/proc``: CPU time and resident
memory of the Spark JVM and its Python workers, and the reaping of every
process the run started.

The run makes itself a child subreaper, so a Python worker orphaned by
the JVM's exit is re-parented to the run, which then waits for it; no
process of the run outlives it or is left a zombie.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` from field 3 (state) on."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def start_time() -> float:
    """Epoch time at which this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - int(_stat(os.getpid())[19]) / CLK_TCK)


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pid: int) -> float:
    """User + system time of ``pid`` and of its children it has waited
    for (a Python worker that exited counts in the daemon that forked
    it)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    return sum(int(x) for x in st[11:15]) / CLK_TCK


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes mapping it, so the sum over a tree of forked
    Python workers counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class Tree:
    """CPU and memory of the JVM (``jvm_pid``) and every process below it."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu(self) -> tuple[float, float]:
        """(JVM, Python workers) CPU seconds so far."""
        jvm = cpu_seconds(self.jvm_pid)
        workers = sum(cpu_seconds(p) for p in descendants(self.jvm_pid))
        return jvm, workers

    def memory(self) -> int:
        """Summed proportional set size of the JVM and its workers."""
        return sum(pss_bytes(p) for p in [self.jvm_pid, *descendants(self.jvm_pid)])


class PeakSampler:
    """Samples the tree's memory every ``period`` seconds from ``start``
    to ``stop``; ``stop`` returns the largest sum seen."""

    def __init__(self, tree: Tree, period: float = 0.2):
        self.tree, self.period = tree, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, self.tree.memory())

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak


def reap_all(grace: float = 20.0) -> list[int]:
    """Wait for every descendant of this process to end and be reaped;
    send SIGTERM to those still alive after ``grace`` seconds, and
    SIGKILL five seconds later. Returns the pids still alive at the end
    (empty on success)."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + wait
        while time.monotonic() < end:
            while True:
                try:
                    pid, _ = os.waitpid(-1, os.WNOHANG)
                except ChildProcessError:
                    break
                if pid == 0:
                    break
            if not descendants():
                return []
            time.sleep(0.05)
    return descendants()
