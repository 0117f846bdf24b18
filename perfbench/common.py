"""Helpers shared by the workloads: latency statistics, the order-insensitive
row hash used by the output checks, and the machine stamp of a run."""

from __future__ import annotations

import bisect
import datetime
import decimal
import hashlib
import os
import statistics
import subprocess
import threading
import time


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values) -> dict | None:
    """The highest percentile that still has at least 10 samples beyond it,
    with that percentile and the sample count (None below 11 samples)."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return None
    return {"value": xs[n - 11], "pct": 100.0 * (n - 10) / n, "n": n}


def latency_summary(seconds: list[float]) -> dict:
    """Median and tail of a list of latencies, in ms."""
    ms = [s * 1000.0 for s in seconds]
    return {"p50_ms": median(ms), "tail_ms": tail(ms), "n": len(ms)}


def _norm(v):
    if isinstance(v, float):
        return "nan" if v != v else format(v + 0.0, ".6g")
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_norm(k)}:{_norm(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):  # Row is a tuple
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def row_hash(rows) -> str:
    """sha256 over the sorted normalized rows: independent of row order and
    of float noise below 6 significant digits."""
    h = hashlib.sha256()
    for line in sorted(_norm(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _cotenant_jvms() -> int:
    """Java processes that are not this process's own gateway JVM (a direct
    child); -1 when ``ps`` cannot tell."""
    try:
        proc = subprocess.run(["ps", "-eo", "pid,ppid,comm"], capture_output=True, text=True)
    except OSError:
        return -1
    if proc.returncode != 0:
        return -1
    me, n = os.getpid(), 0
    for line in proc.stdout.splitlines()[1:]:
        parts = line.split()
        if len(parts) >= 3 and "java" in parts[2]:
            try:
                ppid = int(parts[1])
            except ValueError:
                return -1
            if ppid != me:
                n += 1
    return n


def _cpu_times() -> list[int] | None:
    """The aggregate ``cpu`` line of /proc/stat (user .. steal), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def env_snapshot() -> dict:
    """1/5/15-minute loadavg, the co-tenant JVM count and the machine's
    cumulative CPU times (for the steal share between two snapshots)."""
    try:
        la = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        la = None
    return {"loadavg": la, "cotenant_jvms": _cotenant_jvms(), "cpu": _cpu_times()}


class StealSampler:
    """Reads the machine's cumulative steal time from /proc/stat every
    ``period`` seconds on a thread of its own, while its ``with`` block
    runs.  Calling it with two ``time.perf_counter`` stamps gives the steal
    ticks (10 ms of one CPU each) between them; 0 where /proc/stat cannot
    be read."""

    def __init__(self, period: float = 0.01):
        self.period = period
        self.stamps: list[float] = []
        self.steal: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-steal", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            cpu = _cpu_times()
            if cpu is None:
                return
            self.stamps.append(time.perf_counter())
            self.steal.append(cpu[7])
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _at(self, t: float) -> int:
        i = bisect.bisect_right(self.stamps, t) - 1
        return self.steal[max(i, 0)] if self.steal else 0

    def __call__(self, start: float, end: float) -> int:
        return self._at(end) - self._at(start)


def steal_share(start: dict, end: dict) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    snapshots: a run with a high share was slowed by co-tenants."""
    a, b = start.get("cpu"), end.get("cpu")
    if not a or not b:
        return None
    total = sum(b) - sum(a)
    return (b[7] - a[7]) / total if total > 0 else None


def commit_of(root: str) -> str:
    """The checkout's git commit, or "unknown" outside a git work tree."""
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"
    try:
        proc = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True
        )
    except OSError:
        return "unknown"
    return proc.stdout.strip() if proc.returncode == 0 else "unknown"
