"""Process-tree sampling from ``/proc`` and the host canary.

The process tree of one benchmark run is the driver Python process, the
JVM it launches (``java``) and the Python workers the JVM forks. Only
``/proc`` is read; nothing inside the program is touched.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process was started (``/proc/self/stat``)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return uptime - int(fields[19]) / _TICK


def canary_s() -> float:
    """Wall time of a fixed single-thread Python loop. It reads how fast
    this host runs one core right now; it is reported beside the metrics
    and never used to adjust them."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _stat(pid: int) -> tuple[str, int, float, float, int] | None:
    """(comm, ppid, own cpu s, reaped-children cpu s, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), own, reaped, int(f[21]) * _PAGE


class ProcessTree:
    """Samples the driver, JVM and Python-worker processes.

    ``snapshot()`` returns CPU seconds and RSS per class; a background
    thread keeps the peak of the summed RSS (and of each class) over the
    whole run.
    """

    def __init__(self, interval_s: float = 0.2):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_mb = {"total": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self.seen: set[int] = set()  # JVM and worker pids, for reap()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def snapshot(self) -> dict[str, float]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, st in procs.items():
            kids.setdefault(st[1], []).append(pid)
        out = {
            "driver_cpu_s": 0.0, "jvm_cpu_s": 0.0, "pyworker_cpu_s": 0.0,
            "driver_rss_mb": 0.0, "jvm_rss_mb": 0.0, "pyworker_rss_mb": 0.0,
        }
        if self.root in procs:
            out["driver_cpu_s"] = procs[self.root][2]
            out["driver_rss_mb"] = procs[self.root][4] / 2**20
        for jvm in kids.get(self.root, []):
            if procs[jvm][0] != "java":
                continue
            self.seen.add(jvm)
            out["jvm_cpu_s"] += procs[jvm][2]
            out["jvm_rss_mb"] += procs[jvm][4] / 2**20
            stack = list(kids.get(jvm, []))
            while stack:
                pid = stack.pop()
                comm, _, own, reaped, rss = procs[pid]
                self.seen.add(pid)
                if comm.startswith("python"):
                    out["pyworker_cpu_s"] += own + reaped
                    out["pyworker_rss_mb"] += rss / 2**20
                stack.extend(kids.get(pid, []))
        total = out["driver_rss_mb"] + out["jvm_rss_mb"] + out["pyworker_rss_mb"]
        with self._lock:
            self.peak_mb["total"] = max(self.peak_mb["total"], total)
            self.peak_mb["jvm"] = max(self.peak_mb["jvm"], out["jvm_rss_mb"])
            self.peak_mb["pyworker"] = max(self.peak_mb["pyworker"], out["pyworker_rss_mb"])
        return out

    def reap(self, timeout_s: float = 30.0) -> None:
        """Wait until every JVM and worker process seen has exited; kill
        what is left after ``timeout_s``."""
        deadline = time.monotonic() + timeout_s
        while True:
            alive = [p for p in self.seen if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.1)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.snapshot()

    def __enter__(self) -> "ProcessTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
