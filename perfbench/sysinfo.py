"""Process-tree memory sampling and per-run attribution metadata."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> dict[int, int]:
    """RSS of ``pid`` and each live process below it."""
    out = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                out[p] = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return out


class PeakRss:
    """Samples the RSS of this process tree (driver Python, JVM, Python
    workers) every ``interval`` seconds on a daemon thread, counting the
    processes that live across two samples."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        # Only processes seen in two samples in a row count: a short-lived
        # child forked from the JVM or from Python can report its parent's
        # memory as its own until it execs, which counts it twice.
        pid = os.getpid()
        prev: set[int] = {pid}
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            self.peak = max(self.peak, sum(b for p, b in rss.items() if p in prev))
            prev = set(rss) | {pid}
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks: user,
    nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    :func:`cpu_times` readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def cpu_calibration_ms() -> float:
    """Single-core speed: ms for a fixed sha256 workload, best of 3."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = b"\x00" * 65536
        for _ in range(100):
            b = hashlib.sha256(b).digest() * 2048
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 2)


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def source_digest(root: str) -> str:
    """sha256 over the Python sources of the program and of this
    benchmark, so a run outside a git checkout still names the code it
    measured."""
    h = hashlib.sha256()
    paths = []
    for top in ("shaha_spark", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            paths.extend(os.path.join(dirpath, f) for f in filenames if f.endswith(".py"))
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
