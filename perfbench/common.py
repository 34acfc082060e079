"""Shared pieces of the workloads: the run context, the outcome record
and the summary statistics every workload reports."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Run:
    spark: object
    tracer: object
    seed: int
    seconds: float
    run_dir: str
    session_start_s: float


@dataclass
class Outcome:
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    per_layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    named: dict[str, dict] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """One checked output; a wrong result counts as a failed op."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def name(self, key: str, value: float, unit: str, **extra) -> None:
        self.named[key] = {"value": value, "unit": unit, **extra}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> tuple[float, int, int]:
    """Nearest-rank 90th percentile: ``(value, samples beyond it, n)``.
    It is a tail figure only once ten or more samples lie beyond it,
    which takes a hundred samples."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0, 0
    k = max(0, -(-9 * n // 10) - 1)
    return s[k], n - 1 - k, n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Stopwatch:
    """``with sw: ...`` appends the block's wall time to ``sw.laps``."""

    def __init__(self):
        self.laps: list[float] = []

    def __enter__(self):
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.laps.append(time.perf_counter() - self._t)
        return False
