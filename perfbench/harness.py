"""What the workloads share with the runner: the run context, the
outcome a workload returns, and the percentile rule."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from spans import add_into


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Ctx:
    """What a workload needs from the harness."""

    spark: object
    seed: int
    work: str
    trace: bool
    tracer: object = None  # spans.Tracer while a traced round runs
    jobs: object = None  # spans.JobStats in traced runs
    spark_stats: dict = field(default_factory=dict)  # JobStats totals, traced ops
    _n_ops: int = 0

    def op(self, kind: str, fn):
        """Run one operation; returns ``(result, seconds)``.  In a traced
        round the operation gets a root span and its own job group, and
        its Spark statistics are read after the seconds are taken."""
        if self.tracer is None:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        self._n_ops += 1
        self.tracer.op = f"{kind}-{self._n_ops}"
        gid = self.jobs.group(kind)
        t0 = time.perf_counter()
        with self.tracer.span("op." + kind):
            out = fn()
        dt = time.perf_counter() - t0
        add_into(self.spark_stats, self.jobs.collect(gid))
        return out, dt

    def force_plan(self, df) -> None:
        """Traced rounds only: plan ``df`` inside a ``spark.plan`` span
        (Catalyst analysis, optimisation and physical planning)."""
        if self.tracer is not None:
            with self.tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()


@dataclass
class Outcome:
    """A workload's result: end-to-end samples plus per-layer figures."""

    setup_s: float
    latencies_ms: list[float]
    attempted: int
    failed: int
    report: dict  # workload-named end-to-end figures → (value, unit, samples)
    layers: dict  # per-layer metric name → value
