"""Host-state probes and the process-tree RSS sampler."""

from __future__ import annotations

import contextlib
import os
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")



def _spin(iters: int) -> int:
    x = 1
    for _ in range(iters):
        x = (x * 1103515245 + 12345) % 2147483647
    return x


def _spin_all_cores() -> None:
    import multiprocessing as mp

    n = len(os.sched_getaffinity(0))
    with mp.get_context("spawn").Pool(n) as p:
        p.map(_spin, [1] * n)  # workers started before the clock
        t0 = time.perf_counter()
        p.map(_spin, [3_000_000] * n)
        print(f"{time.perf_counter() - t0:.4f}")


def spin_probe() -> float:
    """Wall seconds for every affinity core to finish a fixed pure-Python
    loop, in a fresh subprocess (a long-lived process reads high)."""
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__)], capture_output=True, text=True, timeout=120
    )
    if r.returncode != 0:
        raise RuntimeError(f"spin probe failed (rc={r.returncode}): {r.stderr[-2000:]}")
    return float(r.stdout.strip().splitlines()[-1])


def host_state() -> dict:
    return {
        "spin_probe_s": spin_probe(),
        "loadavg_1m": os.getloadavg()[0],
        "cpus": len(os.sched_getaffinity(0)),
    }


def _process_tree(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def _tree_mem_bytes(root: int) -> int:
    """Memory of `root` and its descendants (driver, JVM, Python workers).
    Forked Python workers share copy-on-write pages, so they count their
    proportional share (Pss); summing plain RSS counted those pages once per
    worker and read one run 65% high. The JVM shares next to nothing, and
    reading its Pss walks its 2 GB heap's page tables (~30 ms a sample), so
    it counts its RSS."""
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            total += _rss_bytes(pid) if java else _pss_bytes(pid)
        except OSError:
            pass  # process exited
    return total


def _pin_tree(cpus: set[int]) -> None:
    """Set the affinity of every thread of this process and its
    descendants; processes forked later inherit it."""
    for pid in _process_tree(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass  # thread exited


@contextlib.contextmanager
def pinned(n_cpus: int):
    """Confine the driver, the JVM and the Python workers to `n_cpus`
    cores for the duration of the block."""
    allowed = os.sched_getaffinity(0)
    _pin_tree(set(sorted(allowed)[:n_cpus]))
    try:
        yield
    finally:
        _pin_tree(allowed)


class RssSampler:
    """Samples the process tree's memory from a thread while `active`."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self.active = False
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self._interval):
            if self.active:
                rss = _tree_mem_bytes(root)
                with self._lock:
                    self._peak = max(self._peak, rss)

    def take_peak_mb(self) -> float:
        """Peak since the last call, in MB; resets it."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak / 2**20


if __name__ == "__main__":
    _spin_all_cores()
