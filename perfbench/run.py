"""Repo benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 5 --trace 0

Run from the repository root.  Each run is a fresh process that starts
its own ``local[nproc]`` session, builds its inputs from ``--seed`` under
``.perfbench_work/`` in the current directory, drives the engine from a
single closed-loop client (each operation is sent after the previous one
returns), checks every output against DuckDB, and prints one JSON object
as the last line of standard output.

``--trace 0`` reports the end-to-end metrics that ``BENCHMARK.json``
lists; ``--trace 1`` runs the same workload with spans and per-operation
Spark statistics and reports its per-layer metrics.  The lines before the
JSON object give every figure the run measured, by name, unit and sample
count; the traced run also writes its spans to
``.perfbench_out/<workload>-<seed>.spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from harness import Ctx, Outcome, percentile

WORKLOADS = ("lake_read", "surface")


def start_session(work: str):
    from swiftlake_spark.config import EngineConfig
    from swiftlake_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    cfg = EngineConfig(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    return build_session(cfg)


def calibrate(spark) -> dict[str, float]:
    """bench.py's machine probes: the per-job floor (median of 9 no-op
    jobs) and a sustained-CPU probe (median of 3), scaled to 200M rows
    so it fits a run.  Context for per-layer figures only."""
    floor = []
    for _ in range(9):
        t0 = time.perf_counter()
        spark.range(10).write.format("noop").mode("overwrite").save()
        floor.append(time.perf_counter() - t0)
    cpu = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id % 7)", "sum(xxhash64(id))").collect()
        cpu.append(time.perf_counter() - t0)
    return {
        "spark.job_floor_ms": statistics.median(floor) * 1e3,
        "machine.cpu_probe_s": statistics.median(cpu),
    }


def peak_rss_mb(spark) -> tuple[float, float]:
    """Driver JVM high-water mark (VmHWM) and this process's max RSS, MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return hwm_kb / 1024, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: it ends when its
    standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def spark_layers(stats: dict) -> dict[str, float]:
    out = {f"spark.{k}": v for k, v in stats.items() if k != "task_cpu_ns"}
    out["spark.task_cpu_ms"] = stats.get("task_cpu_ns", 0.0) / 1e6
    return out


def run(args, root: str, work: str) -> dict:
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark=spark, seed=args.seed, work=work, trace=bool(args.trace))
        if ctx.trace:
            from spans import JobStats

            ctx.jobs = JobStats(spark)
        if args.workload == "surface":
            import surface

            res: Outcome = surface.run(ctx)
        else:
            import lake

            res = lake.run(ctx)
        calib = calibrate(spark)
        jvm_mb, python_mb = peak_rss_mb(spark)
    finally:
        stop_session(spark)

    lat = res.latencies_ms
    e2e = {
        "setup_s": (session_s + res.setup_s, "s"),
        "p50_ms": (percentile(lat, 50), "ms"),
        "ops_per_s": (len(lat) / (sum(lat) / 1e3), "1/s"),
    }
    report = dict(res.report)
    report["setup_s"] = (e2e["setup_s"][0], "s", 1)
    report["ops_per_s"] = (e2e["ops_per_s"][0], "1/s", len(lat))
    report["peak_rss_mb"] = (jvm_mb + python_mb, "MB", 1)
    report["jvm_hwm_mb"] = (jvm_mb, "MB", 1)
    report["python_maxrss_mb"] = (python_mb, "MB", 1)
    report["fail_ratio"] = (res.failed / res.attempted, "failed/attempted", res.attempted)
    for name, (value, unit, n) in report.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit} (n={n})")

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        layers = dict(res.layers)
        layers.update(spark_layers(ctx.spark_stats))
        layers.update(calib)
        for name in sorted(layers):
            print(f"# {args.workload} layer {name} = {layers[name]:.6g}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        for name, value in sorted(calib.items()):
            print(f"# {args.workload} calibration {name} = {value:.6g}")
        metrics = {
            m["name"]: {"value": e2e[m["name"]][0], "unit": e2e[m["name"]][1]}
            for m in declared["end_to_end"]
        }
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # every workload does a fixed amount of work, so the sample count does
    # not depend on the host's speed; the argument is accepted and unused
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "swiftlake_spark")):
        print("perfbench: run from the repository root (no swiftlake_spark/ here)",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temporary file (package zip, fixture warehouses, Spark
    # scratch) inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    tempfile.tempdir = tmp
    sys.path.insert(0, root)
    try:
        out = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
