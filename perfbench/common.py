"""Shared pieces of the three workloads: run context, outcome, statistics."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field

#: how many times each workload's set-up runs in one process; ``setup_s``
#: is the median, so one cold or disturbed set-up does not move it.
SETUP_REPEATS = 3


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    spark: object = None
    tracer: object = None
    counter: object = None


@dataclass
class Outcome:
    """What a workload measured. ``e2e`` holds the guarded metrics,
    ``report`` the workload's own named metrics, ``layer`` the traced
    per-layer numbers, ``phases`` the wall seconds of each part of the run."""

    e2e: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    phases: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


class Reference:
    """A fixed pure-Spark job, timed after every timed operation.

    On a few cores shared with other machines' work, the same code's wall
    times move by up to 2x between runs, and within one from second to
    second, as the host's load comes and goes; this job's time moves with
    them. Each operation's latency is divided by the faster of the two
    timings around it: interference only ever slows the job down.

    The job has the shape of the workload's own stages: ``partitions``
    tasks of 100,000 rows each. A one-task job tracks the statement path,
    whose stages run one to three tasks; when cores are contended, a
    four-task job waits for its slowest task and slows more than they do."""

    ROWS_PER_TASK = 100_000

    def __init__(self, spark, partitions: int, warm: int = 3) -> None:
        self.spark = spark
        self.partitions = partitions
        self.times: list[float] = []
        for _ in range(warm):
            self.measure()
        self.times.clear()
        self.measure()  # the first timing comes before the first operation

    def measure(self) -> float:
        self.spark.sparkContext.setJobGroup("perfbench-reference", "reference job")
        t0 = time.perf_counter()
        rows = self.ROWS_PER_TASK * self.partitions
        self.spark.range(0, rows, 1, self.partitions).selectExpr("sum(id * 7 % 13)").collect()
        self.times.append(time.perf_counter() - t0)
        return self.times[-1]

    def after(self) -> float:
        """Time the job again; returns the reference for the operation
        since the previous timing."""
        before = self.times[-1]
        return min(before, self.measure())


def end_to_end(setups, samples) -> tuple[dict, dict]:
    """The guarded metrics and their wall-clock counterparts, from the
    set-up times and the timed ``(kind, seconds, reference seconds)``
    samples."""
    by_kind: dict[str, list[tuple[float, float]]] = {}
    for kind, secs, ref in samples:
        by_kind.setdefault(kind, []).append((secs, ref))
    guarded = {
        "setup_s": median(setups),
        "suite_ratio": sum(median(s / r for s, r in v) for v in by_kind.values()),
    }
    clock = {
        "suite_s": sum(median(s for s, _r in v) for v in by_kind.values()),
        "ops_per_s": len(samples) / sum(s for _k, s, _r in samples),
        "reference_s": median(r for _k, _s, r in samples),
    }
    return guarded, clock


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, math.ceil(q / 100.0 * len(xs)) - 1)
    return xs[k]


def du(path: str) -> int:
    """Bytes in regular files under ``path``."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total

