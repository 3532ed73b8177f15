"""Spark-free pieces of the benchmark: the closed-loop op runner, the
latency statistics and the canonical result hash."""

from __future__ import annotations

import hashlib
import math
import statistics
import time
import traceback
from dataclasses import dataclass
from typing import Callable

# Percentiles op_tail_s may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten samples beyond
    it; the median when there are fewer than twenty samples."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            return p
    return 50.0


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p * n / 100.0, 6)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile; p=50 is the median."""
    if not values:
        raise ValueError("no samples")
    if p == 50.0:
        return statistics.median(values)
    return sorted(values)[_rank(p, len(values)) - 1]


def pass_plan(n: int, trace: bool) -> list[bool]:
    """Which timed passes run traced: none without tracing, else ``n`` of
    each in pairs that alternate untraced-first and traced-first, so that
    a drift over the run (the JIT still settling) weighs on both alike."""
    if not trace:
        return [False] * n
    return [j % 2 != (j // 2) % 2 for j in range(2 * n)]


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    error: str | None = None


def run_op(name: str, fn: Callable[[], object], clock=time.perf_counter) -> OpResult:
    """Time one operation of the closed loop. An operation that raises
    is recorded as failed and the loop goes on, so one bad query cannot
    hide the timings of the others."""
    t0 = clock()
    try:
        fn()
    except Exception:
        return OpResult(name, clock() - t0, False, traceback.format_exc(limit=3))
    return OpResult(name, clock() - t0, True)


def count_failures(results: list[OpResult], wrong: set[str]) -> int:
    """Operations that raised, plus every operation of a query whose
    output check failed."""
    return sum(1 for r in results if not r.ok or r.name in wrong)


def canon_hash(cols: list[str], rows) -> str:
    """sha256 of a result in the canonical form of the package's
    ``verify`` command: columns sorted by name, cells stringified, rows
    sorted (``__main__._canon_rows``)."""
    from lambda_lakehouse_spark.__main__ import _canon_rows

    h = hashlib.sha256()
    for row in _canon_rows(list(cols), rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()
