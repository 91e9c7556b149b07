"""Timing, sampling and result helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import threading
import time
from pathlib import Path


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, by
    nearest rank; None when there are fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return {"value": sorted(values)[rank - 1], "percentile": pct, "n": n}


def _rss_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples RSS of this Python process plus the driver JVM while
    ``active`` is set; ``peak_mb`` is the highest sum seen."""

    def __init__(self, jvm_pid: int, period_s: float = 0.05):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak_kb = max(self.peak_kb, _rss_kb("self") + _rss_kb(self.jvm_pid))
            time.sleep(self.period_s)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Ledger:
    """Counts attempted and failed operations; a failure keeps its reason."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, op: str, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{op}: {reason}")
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)


def dir_bytes(path: Path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total

