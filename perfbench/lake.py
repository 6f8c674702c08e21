"""``lake_read``: pruned reads against lakehouse tables.

Tables are built at sf0.1 in set-up, each appended in ``SLICES`` slices
so the history holds several snapshots:

- ``db.lineitem``: 600k rows, partitioned by ``month(l_shipdate)``;
- ``db.orders``: 150k rows, partitioned by ``bucket(16, o_orderkey)``,
  keys dense over 0..149,999 (slice ``j`` holds ``o_orderkey % SLICES == j``).

One client sends statements in ``ROUNDS`` rounds; each round holds a
fixed mix in a seeded order, so every run measures the same composition
whatever the host's speed.  One untimed round in set-up warms the JVM
and the caches.

Every read result is checked against DuckDB over the same source rows,
time-travel reads against the rows that snapshot held.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time

import duckdb

import datagen
from harness import Outcome, percentile

SF = 0.1
SLICES = 3
ROUNDS = 4
TABLES = ("lineitem", "orders")


class Collector:
    """``engine.add_metric_collector`` target: keeps the ScanMetrics
    produced while ``on`` is set."""

    def __init__(self) -> None:
        self.on = False
        self.scans: list = []

    def __call__(self, m) -> None:
        if self.on and hasattr(m, "scanned_files"):
            self.scans.append(m)


class Lake:
    """Engine, source data, DuckDB reference and the tracing switch."""

    def __init__(self, ctx) -> None:
        from swiftlake_spark.engine import SwiftLakeEngine

        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")
        self.tables = datagen.write(ctx.seed, SF, self.src, TABLES)
        self.n_orders = self.tables["orders"].num_rows
        self.eng = SwiftLakeEngine(spark=ctx.spark, warehouse=os.path.join(ctx.work, "wh"))
        self.metrics = Collector()
        self.eng.add_metric_collector(self.metrics)
        self.duck = duckdb.connect()
        self.duck.execute("SET TimeZone='UTC'")
        for t in self.tables:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.src}/{t}.parquet')"
            )
        self.snapshots: list[int] = []  # db.orders snapshot after slice j
        self.setup_layers: dict[str, float] = {}
        self._tracer = None

    # -- set-up --------------------------------------------------------
    def build(self) -> None:
        """Create the tables and append them slice by slice.  A traced run
        records these appends' spans too, as ``setup.*`` layers."""
        from spans import Tracer, layer_times, wrap_lakehouse

        tracer = Tracer() if self.ctx.trace else None
        if tracer is not None:
            wrap_lakehouse(tracer)
        try:
            self._build()
        finally:
            if tracer is not None:
                tracer.restore()
                self.setup_layers = {f"setup.{k}": v for k, v in layer_times(tracer).items()}
                tracer.dump(f"lake_read-{self.ctx.seed}-setup")

    def _build(self) -> None:
        spark, cat = self.ctx.spark, self.eng.catalog
        layout = {"lineitem": ("month(l_shipdate)", "l_orderkey"),
                  "orders": ("bucket(16, o_orderkey)", "o_orderkey")}
        dfs = {}
        for t in TABLES:
            dfs[t] = spark.read.parquet(f"{self.src}/{t}.parquet")
            cat.create_table(f"db.{t}", dfs[t].schema, partition_spec=[layout[t][0]])
        for j in range(SLICES):
            for t in TABLES:
                self.eng.insert_into(f"db.{t}").dataframe(
                    dfs[t].where(f"{layout[t][1]} % {SLICES} = {j}")).execute()
            self.snapshots.append(cat.table("db.orders").meta.current_snapshot().snapshot_id)

    # -- tracing -------------------------------------------------------
    def trace_on(self, tracer) -> None:
        from spans import wrap_lakehouse

        wrap_lakehouse(tracer)
        self.ctx.tracer = tracer
        self.metrics.on = True

    def trace_off(self, tracer) -> None:
        tracer.restore()
        self.ctx.tracer = None
        self.metrics.on = False

    def rounds(self, make_round, run_one) -> tuple[list[float], float | None]:
        """Run ``ROUNDS`` rounds; returns ``(latencies_ms, overhead_ms)``.

        A traced run plays every round twice, once traced and once not,
        alternating which play goes first; its latencies are the traced
        plays', and the tracing overhead is the traced minus the untraced
        wall time over those identical statements, per statement."""
        from spans import Tracer

        tracer = Tracer() if self.ctx.trace else None
        self._tracer = tracer
        lat: list[float] = []
        wall = {True: 0.0, False: 0.0}
        n = 0
        for i in range(ROUNDS):
            stmts = make_round()
            n += len(stmts)
            plays = (False,) if tracer is None else ((True, False), (False, True))[i % 2]
            for on in plays:
                if on:
                    self.trace_on(tracer)
                t0 = time.perf_counter()
                try:
                    for stmt in stmts:
                        secs = run_one(stmt)
                        if secs is not None and on == (tracer is not None):
                            lat.append(secs * 1e3)
                finally:
                    wall[on] += time.perf_counter() - t0
                    if on:
                        self.trace_off(tracer)
        overhead = None if tracer is None else (wall[True] - wall[False]) * 1e3 / n
        return lat, overhead

    def trace_layers(self, overhead_ms: float | None) -> dict[str, float]:
        """Self times per layer, tracing overhead and scan figures."""
        tr = self._tracer
        if tr is None:
            return {}
        from spans import layer_times

        out = layer_times(tr)
        out.update(self.setup_layers)
        out["trace.overhead_ms_per_op"] = overhead_ms
        scans = self.metrics.scans
        if scans:
            out["tables.scan_planning_ms"] = sum(s.planning_ms for s in scans)
            total = sum(s.total_files for s in scans)
            out["tables.prune_ratio"] = sum(s.pruned_files for s in scans) / max(total, 1)
            out["tables.records_scanned"] = sum(s.scanned_records for s in scans)
        tr.dump(f"lake_read-{self.ctx.seed}")
        return out

    def close(self) -> None:
        self.duck.close()
        self.eng.close()


def _same(a: list[tuple], b: list[tuple]) -> bool:
    """Order-insensitive row equality; floats to 1e-9 relative (sums of
    doubles depend on addition order)."""
    if len(a) != len(b):
        return False

    def key(r):
        return tuple(repr(round(v, 4)) if isinstance(v, float) else repr(v) for v in r)

    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > 1e-9 * max(abs(x), abs(y), 1.0):
                    return False
            elif x != y:
                return False
    return True


# ----------------------------------------------------------------- reads
def _read_round(rng: random.Random, n_orders: int, snapshots: list[int]):
    """One round: 3 point lookups, 2 time-travel reads, a one-month range
    aggregate, 2 pruned joins and a full-scan aggregate, shuffled.  The
    joins, the slowest kind, are more than a tenth of the mix so p90 falls
    inside one kind rather than between two.  Each item is
    ``(kind, engine_sql, duckdb_sql)``."""
    out = []
    for _ in range(3):
        k = rng.randrange(n_orders)
        cols = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "CAST(CAST(o_orderdate AS DATE) AS STRING) AS d, o_orderpriority")
        q = f"SELECT {cols} FROM {{t}} WHERE o_orderkey = {k}"
        out.append(("point", q.format(t="db.orders"),
                    q.format(t="orders").replace("AS STRING", "AS VARCHAR")))
    for form in ("version", "suffix"):
        i = rng.randrange(SLICES - 1)
        sid = snapshots[i]
        ref = (f"db.orders VERSION AS OF {sid}" if form == "version"
               else f"db.orders$snapshot_{sid}")
        agg = "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS p FROM {t} GROUP BY o_orderstatus"
        out.append(("travel", agg.format(t=ref),
                    agg.format(t=f"(SELECT * FROM orders WHERE o_orderkey % {SLICES} <= {i})")))
    y, m = rng.randrange(1995, 2001), rng.randrange(1, 13)
    lo, hi = dt.date(y, m, 1), dt.date(y + (m == 12), m % 12 + 1, 1)
    q = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
         "sum(l_extendedprice) AS p FROM {t} WHERE l_shipdate >= TIMESTAMP '"
         f"{lo}' AND l_shipdate < TIMESTAMP '{hi}' GROUP BY l_returnflag, l_linestatus")
    out.append(("month", q.format(t="db.lineitem"), q.format(t="lineitem")))
    for _ in range(2):
        keys = ", ".join(str(rng.randrange(n_orders)) for _ in range(8))
        y = rng.randrange(1995, 2001)
        q = ("SELECT o.o_orderpriority, count(*) AS n, sum(l.l_extendedprice) AS p "
             "FROM {o} o JOIN {l} l ON l.l_orderkey = o.o_orderkey "
             f"WHERE o.o_orderkey IN ({keys}) AND l.l_shipdate >= TIMESTAMP '{y}-01-01' "
             f"AND l.l_shipdate < TIMESTAMP '{y + 1}-01-01' GROUP BY o.o_orderpriority")
        out.append(("join", q.format(o="db.orders", l="db.lineitem"),
                    q.format(o="orders", l="lineitem")))
    q = ("SELECT l_linestatus, count(*) AS n, sum(l_quantity) AS q, "
         "sum(l_extendedprice) AS p FROM {t} GROUP BY l_linestatus")
    out.append(("full", q.format(t="db.lineitem"), q.format(t="lineitem")))
    rng.shuffle(out)
    return out


def run(ctx) -> Outcome:
    lake = Lake(ctx)
    try:
        t0 = time.perf_counter()
        lake.build()
        rng = random.Random(ctx.seed)
        results: list[tuple] = []  # (kind, duck_sql, rows or None, traced)

        def run_one(stmt) -> float | None:
            kind, sql, duck_sql = stmt

            def body():
                df = lake.eng.sql(sql)
                ctx.force_plan(df)
                if ctx.tracer is None:
                    return df.collect()
                with ctx.tracer.span("spark.exec"):
                    return df.collect()

            try:
                rows, secs = ctx.op(kind, body)
            except Exception as exc:  # noqa: BLE001 — a failed statement is counted
                print(f"# lake_read {kind} failed: {type(exc).__name__}: {exc}"[:300])
                results.append((kind, duck_sql, None, False))
                return None
            results.append((kind, duck_sql, rows, ctx.tracer is not None))
            return secs

        for stmt in _read_round(rng, lake.n_orders, lake.snapshots):
            run_one(stmt)
        setup = time.perf_counter() - t0
        results.clear()
        lat, overhead = lake.rounds(
            lambda: _read_round(rng, lake.n_orders, lake.snapshots), run_one)

        failed = 0
        hits = points = returned = 0
        for kind, duck_sql, rows, traced_op in results:
            if rows is None:
                failed += 1
                continue
            got = [tuple(r) for r in rows]
            want = lake.duck.execute(duck_sql).fetchall()
            failed += not _same(got, want)
            returned += len(got) if traced_op else 0
            if kind == "point":
                points += 1
                hits += bool(got)
        layers = lake.trace_layers(overhead)
        if "tables.records_scanned" in layers:
            layers["tables.records_scanned_per_row_returned"] = (
                layers["tables.records_scanned"] / max(returned, 1))
        n = len(lat)
        report = {
            "read_p50_ms": (statistics.median(lat), "ms", n),
            "read_p90_ms": (percentile(lat, 90), "ms", n),
            "read.hit_ratio": (hits / points, "found/lookups", points),
        }
        return Outcome(setup_s=setup, latencies_ms=lat, attempted=len(results),
                       failed=failed, report=report, layers=layers)
    finally:
        lake.close()
