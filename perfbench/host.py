"""Host-side measurements: a CPU probe, the hypervisor's steal time, the
process tree's summed RSS, and waiting for every process the run started to
end."""

from __future__ import annotations

import os
import signal
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def probe_gflops(n: int = 512, seconds: float = 0.3) -> float:
    """Best-of rate of a fixed float64 matmul: tells a slow host window from
    a regression. Not gated. At 512² the rate does not depend on whether the
    cores were busy just before (at 256² it doubled when they were)."""
    rng = np.random.default_rng(0)
    a, b = rng.random((n, n)), rng.random((n, n))
    a @ b  # first call starts the BLAS threads
    best = 0.0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        t0 = time.perf_counter()
        a @ b
        best = max(best, 2 * n**3 / (time.perf_counter() - t0) / 1e9)
    return best


class Steal:
    """Share of the vCPUs' time the hypervisor gave to other guests (the
    `steal` column of /proc/stat) between construction and `share()`; 0
    where the kernel does not report it."""

    def __init__(self):
        self.t0, self.ticks0 = time.monotonic(), self._ticks()

    @staticmethod
    def _ticks() -> int:
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except (OSError, IndexError, ValueError):
            return 0

    def share(self) -> float:
        ticks = self._ticks() - self.ticks0
        span = (time.monotonic() - self.t0) * os.sysconf("SC_CLK_TCK") * (os.cpu_count() or 1)
        return ticks / span if span > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields follow the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below `pid` (default: this one)."""
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class PeakRss:
    """Samples the summed RSS of this process and its descendants (the JVM
    and its Python workers) on a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = [os.getpid(), *descendants()]
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; kill what outlives `timeout`."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"
