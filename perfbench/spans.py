"""In-memory spans and per-operation Spark statistics for the traced run.

Spans are recorded only around calls into the program's public
functions (``Tracer.wrap`` replaces a public method on its class for the
life of the traced run and ``Tracer.restore`` puts it back); nothing
private is patched.  Spark work is read from outside the engine: each
operation runs in its own job group, and its jobs, stages and task
metrics come from ``statusTracker().getJobIdsForGroup`` and the
application status store's ``lastStageAttempt``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# StageData accessor → metric name; times are ms except executorCpuTime (ns)
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "task_run_ms",
    "executorCpuTime": "task_cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleFetchWaitTime": "shuffle_fetch_wait_ms",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory until ``dump``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[type, str, object]] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, cls: type, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of ``cls.attr``."""
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(cls, attr, traced)
        self._patched.append((cls, attr, orig))

    def restore(self) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()

    def self_ms(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total and self milliseconds.  Self
        time is the span's duration minus the part its children cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_ms": 0.0, "self_ms": 0.0}
        )
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, last = 0.0, s["start"]
            for c in sorted(children[i], key=lambda c: c["start"]):
                if c["end"] is None:
                    continue
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            dur = s["end"] - s["start"]
            agg = out[s["name"]]
            agg["calls"] += 1
            agg["total_ms"] += dur * 1e3
            agg["self_ms"] += (dur - covered) * 1e3
        return dict(out)

    def dump(self, name: str) -> None:
        """Write the spans to ``.perfbench_out/<name>.spans.jsonl``, one
        JSON object per line, times in seconds from the first span."""
        out_dir = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(os.path.join(out_dir, f"{name}.spans.jsonl"), "w") as fh:
            for s in self.spans:
                row = dict(s, start=s["start"] - t0, end=(s["end"] or s["start"]) - t0)
                fh.write(json.dumps(row) + "\n")


class JobStats:
    """Jobs, stages and task metrics of one operation, by job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def collect(self, gid: str) -> dict[str, float]:
        """Totals over every job the group ran (status listener drained
        first, so the store is complete)."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out: dict[str, float] = defaultdict(float)
        jobs = tracker.getJobIdsForGroup(gid)
        out["jobs"] = len(jobs)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for acc, key in _STAGE_FIELDS.items():
                    out[key] += getattr(sd, acc)()
        return dict(out)


def wrap_lakehouse(tracer: Tracer) -> None:
    """Spans around the engine's public entry points: ``engine.sql``,
    ``Catalog.resolve_sql``, ``Table.scan`` and each DML builder's
    ``execute``, wherever they are called from."""
    from swiftlake_spark.dml.delete import DeleteBuilder
    from swiftlake_spark.dml.insert import InsertBuilder
    from swiftlake_spark.dml.merge import MergeIntoBuilder
    from swiftlake_spark.dml.scd2 import SCD2Builder
    from swiftlake_spark.dml.update import UpdateBuilder
    from swiftlake_spark.engine import SwiftLakeEngine
    from swiftlake_spark.tables.catalog import Catalog
    from swiftlake_spark.tables.table import Table

    tracer.wrap(SwiftLakeEngine, "sql", "engine.sql")
    tracer.wrap(Catalog, "resolve_sql", "catalog.resolve_sql")
    tracer.wrap(Table, "scan", "tables.scan")
    for cls, name in ((InsertBuilder, "insert"), (MergeIntoBuilder, "merge"),
                      (SCD2Builder, "scd2"), (UpdateBuilder, "update"),
                      (DeleteBuilder, "delete")):
        tracer.wrap(cls, "execute", f"dml.{name}")


def layer_times(tracer: Tracer) -> dict[str, float]:
    """``<span>_self_ms`` and ``<span>_calls`` for every non-root span."""
    out: dict[str, float] = {}
    for name, agg in tracer.self_ms().items():
        if not name.startswith("op."):
            out[f"{name}_self_ms"] = agg["self_ms"]
            out[f"{name}_calls"] = agg["calls"]
    return out


def add_into(total: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0.0) + v
