"""Pieces every workload shares: the run context, percentiles and the
operation boundary that counts attempts and failures."""

from __future__ import annotations

import math
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench.tracing import Tracer


def percentile(values: list[float], q: float) -> float:
    """Percentile (``q`` in 0..100) of ``values``, interpolated between
    the two nearest ranks: with the few samples a window holds, a
    nearest-rank median jumps by a whole sample as the count changes."""
    if not values:
        return math.nan
    return float(np.percentile(values, q))


def summary(values: list[float]) -> dict:
    """Median, quartiles and p90 of a sample, with its size."""
    return {
        "n": len(values),
        "p25": percentile(values, 25),
        "p50": percentile(values, 50),
        "p75": percentile(values, 75),
        "p90": percentile(values, 90),
    }


@dataclass
class Run:
    """One benchmark process: its seed, scratch space and tallies."""

    seed: int
    work_dir: str
    tracer: Tracer
    rng: np.random.Generator = field(init=False)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    def op(self, label: str, fn, *args, **kwargs):
        """Run one operation; a raised error is counted, reported and
        returned as ``None`` so the loop keeps running."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — the benchmark loop must keep running
            self.fail(f"{label}: raised\n{traceback.format_exc()}")
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        """Count one output check; a mismatch is a failed operation."""
        self.attempted += 1
        if not ok:
            self.fail(f"{label}: mismatch {detail}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print(f"FAILED {msg}", file=sys.stderr)


class Deadline:
    """The measured window: ``--seconds`` from the moment it starts."""

    def __init__(self, seconds: float):
        self.end = time.perf_counter() + seconds

    def left(self) -> float:
        return self.end - time.perf_counter()
