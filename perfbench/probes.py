"""Host-side probes that read the machine, not the engine.

* :class:`RssSampler` — peak resident memory of this process's
  descendants (the driver JVM that ``spark-submit`` runs, the PySpark
  daemon and its Python workers), read from ``/proc`` on a background
  thread. ``psutil`` is not assumed to be installed.
* :func:`tree_cpu_s` — CPU seconds used by the same process tree, which
  unlike wall time does not grow with the time the host's hypervisor
  withholds the CPU (steal time).
* :func:`become_subreaper` and :func:`stop_descendants` — make this
  process the parent of every orphan in its tree, and end that tree
  (the JVM, the PySpark daemon and its workers) before the run exits.
* :func:`host_anchor` — the numpy-sort throughput probe ``bench.py``
  records next to every repetition; it moves only with the host's CPU
  grant, so it tells a host-window swing from an engine change.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from concurrent.futures import ThreadPoolExecutor


def _children(pid: int) -> list[int]:
    """Child pids of ``pid``, from each of its threads' ``children`` list
    (a child is listed under the thread that forked it)."""
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process ended
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(k) for k in fh.read().split())
        except OSError:
            continue
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    """Every descendant of ``root``, found by walking down from it, so the
    cost does not grow with the unrelated processes on the host."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and its live descendants, including the children each of
    them has reaped (a finished Python worker counts through the daemon
    that waited for it)."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root, *_descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # ended since we listed it
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants_rss_mb(root: int | None = None) -> float:
    """Summed VmRSS of every descendant of ``root`` (default: this
    process), excluding ``root`` itself."""
    root = os.getpid() if root is None else root
    return sum(_rss_kb(pid) for pid in _descendants(root)) / 1024.0


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Have the kernel reparent every orphaned descendant of this process
    to it instead of to init, so a grandchild whose parent ended (a PySpark
    worker whose daemon exited) can still be found and waited for."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    """Collect every child of this process that has ended (zombies)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except (ProcessLookupError, PermissionError):
            pass


def stop_descendants(grace_s: float = 5.0, kill_s: float = 5.0) -> list[int]:
    """End every descendant of this process and wait until each is gone:
    SIGTERM to each as it is found, SIGKILL to what is left after
    ``grace_s``; returns the pids still alive ``kill_s`` after that (none,
    normally)."""
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    killed = False
    while True:
        _reap()
        pids = _descendants(os.getpid())
        if not pids:
            return []
        now = time.monotonic()
        if now >= deadline:
            if killed:
                return pids
            killed, deadline = True, now + kill_s
        if killed:
            _signal_all(pids, signal.SIGKILL)
        else:
            _signal_all([p for p in pids if p not in termed], signal.SIGTERM)
            termed.update(pids)
        time.sleep(0.05)


class RssSampler:
    """Samples :func:`descendants_rss_mb` every ``interval`` seconds
    between ``__enter__`` and ``__exit__``; ``peak_mb`` is the largest
    sample, one taken on entry and one on exit included. ``cpu_s`` is the
    CPU time the sampling thread itself used, for callers that measure
    this process's CPU time to leave out."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, descendants_rss_mb())

    def _loop(self) -> None:
        t0 = time.thread_time()
        while not self._stop.wait(self.interval):
            self._sample()
        self.cpu_s = time.thread_time() - t0

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def host_anchor(threads: int = 4, units_per_thread: int = 2) -> float:
    """Parallel numpy-sort throughput in units/s (``bench.py``'s probe
    shape: each unit sorts a fixed 300k-float array 40 times)."""
    import numpy as np

    def burn(_):
        x = np.random.default_rng(0).random(300_000)
        for _ in range(40):
            np.sort(x)

    n_units = threads * units_per_thread
    t0 = time.perf_counter()
    with ThreadPoolExecutor(threads) as ex:
        list(ex.map(burn, range(n_units)))
    return n_units / (time.perf_counter() - t0)
