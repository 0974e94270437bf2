#!/usr/bin/env python3
"""Benchmark of the RTA registrations engine.

    python3 perfbench/run.py --workload <etl_job|analytics_job> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the repository root. One run is one fresh Spark application
(``local[nproc]``) doing one job: its operations in a fixed order, each
output checked against its DuckDB oracle after the job. The job is a
fixed amount of work; ``--seconds`` is the least time it is meant to
measure, and the report says when a job ran shorter. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it is a JSON report with the
host facts and every figure the run measured. The exit code is 0 only
if every operation ran and every check passed.

Inputs are cached per seed under ``.perfbench/cache/``; each run's Spark
scratch space, warehouse and span dump live under ``.perfbench/`` in the
current directory and are removed afterwards (the span dump is kept).
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, layers  # noqa: E402
from perfbench.tracing import PACKAGE, Tracer  # noqa: E402
from perfbench.workloads import JOBS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
#: Driver heap through the engine's own override: the engine's 32g
#: default gets the JVM OOM-killed on a 15 GB host.
DRIVER_MEM = "2g"
QUIET_WAIT_S = 15.0
QUIET_BUSY = 0.2
HEAP_PAUSE_S = 1.0
HEAP_MIN_ROUNDS = 3
HEAP_MAX_ROUNDS = 8
HEAP_SETTLED_MB = 1.0
#: The end-to-end metrics, in BENCHMARK.json order.
E2E_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "op_geomean_s": "s",
    "job_cpu_s": "s",
    "retained_heap_mb": "MB",
}
#: Files whose content decides the prepared inputs and oracles.
_PREPARE_SOURCES = ("perfbench", f"{PACKAGE}/plans", "tools/oracle_check.py")


def engine_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in
               (f"{PACKAGE}/jobs.py", f"{PACKAGE}/plans/registry.py", "tools/oracle_check.py"))


def inputs_dir(workload: str, seed: int) -> tuple[str, float]:
    """The seeded inputs of (workload, seed), made by a child process
    (perfbench/prepare.py) unless cached. Returns (directory, seconds
    spent making them)."""
    digest = hashlib.sha256()
    for src in _PREPARE_SOURCES:
        path = os.path.join(ROOT, src)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".py"))
        for f in files:
            with open(f, "rb") as fh:
                digest.update(fh.read())
    out = os.path.join(WORK, "cache", f"{workload}-{seed}-{digest.hexdigest()[:12]}")
    t0 = time.perf_counter()
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        subprocess.run([sys.executable, "-m", "perfbench.prepare", "inputs", workload,
                        str(seed), out], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    return out, time.perf_counter() - t0


def start_oracles(workload: str, data: str) -> subprocess.Popen | None:
    """Start the DuckDB oracles of ``data`` in a child process, unless
    their results are cached beside the inputs."""
    if os.path.exists(os.path.join(data, "expected.json")):
        return None
    return subprocess.Popen([sys.executable, "-m", "perfbench.prepare", "oracles", workload,
                             data], cwd=ROOT, stdout=subprocess.DEVNULL)


def spark_env(work: str) -> None:
    """Size the session through the engine's own overrides and keep every
    scratch file inside this run's directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host.cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the engine from the checkout.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its
    stdin closes), and wait until every child process has ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while host.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def retained_heap_mb(spark) -> list[float]:
    """JVM heap in use once it stops shrinking: rounds of a Python GC, a
    full JVM GC and a reading, a pause apart, until two readings in a row
    agree within HEAP_SETTLED_MB (at least HEAP_MIN_ROUNDS rounds, at most
    HEAP_MAX_ROUNDS). The JVM keeps objects that the driver's Python
    garbage still references until that garbage is collected, and Spark's
    ContextCleaner drops what it releases only after a GC. Returns every
    reading; the last is the metric."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    while True:
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        settled = len(readings) >= HEAP_MIN_ROUNDS and abs(readings[-1] - readings[-2]) < HEAP_SETTLED_MB
        if settled or len(readings) == HEAP_MAX_ROUNDS:
            return readings
        time.sleep(HEAP_PAUSE_S)


class Context:
    def __init__(self, spark, data: str, work: str, meta: dict) -> None:
        self.spark = spark
        self.data = data
        self.work = work
        self.meta = meta
        self.tracer = None


def versions(spark) -> dict[str, str]:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"spark": pyspark.__version__, "python": platform.python_version(),
            "jdk": jvm.java.lang.System.getProperty("java.version")}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not engine_present():
        print(f"perfbench: the engine ({PACKAGE}/, tools/) is not in {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in JOBS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    data, prepare_s = inputs_dir(args.workload, args.seed)
    with open(os.path.join(data, "inputs.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark_env(work)
    load_start = host.loadavg()
    waited, busy_at_start = host.wait_quiet(QUIET_WAIT_S, QUIET_BUSY)
    excluded = prepare_s + waited

    spark = None
    oracles = None
    failure = None
    try:
        # Set-up: the engine's imports and the session start.
        from rta_registrations_pyspark_glue_spark.session import get_spark

        if args.workload == "analytics_job":
            from rta_registrations_pyspark_glue_spark.plans import registry

            registry.queries()  # imports every query module
        else:
            import rta_registrations_pyspark_glue_spark.jobs  # noqa: F401
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START - excluded
        jvm_pid = spark.sparkContext._gateway.proc.pid

        ctx = Context(spark, data, work, meta)
        job = JOBS[args.workload](ctx)
        tracked = None
        if args.trace:
            ctx.tracer = Tracer(spark)
            tracked = layers.install(ctx.tracer)

        # The job: nothing else of the benchmark runs while it is timed.
        stat0, cpu0, py0 = host.cpu_stat(), host.tree_cpu_s(), host.python_workers_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        try:
            with job.span("job"):
                job.run()
        except Exception:  # a raising engine call: recorded as failed; no more operations
            failure = traceback.format_exc()
        job_s = time.perf_counter() - t0
        stat1, cpu1, py1 = host.cpu_stat(), host.tree_cpu_s(), host.python_workers_cpu_s(jvm_pid)
        job_cpu_s = cpu1 - cpu0
        # Untimed from here on: the oracles run beside the rest.
        oracles = start_oracles(args.workload, data)
        facts = {
            "session.get_spark.s": session_s,
            "tracing.job_s": job_s,
            "python_workers.cpu_s": py1 - py0,
            "proc.jvm_peak_rss_mb": host.peak_rss_mb(jvm_pid),
            "proc.driver_peak_rss_mb": host.peak_rss_mb(os.getpid()),
        }
        if ctx.tracer is not None:
            ctx.tracer.restore()
            facts["caching.tracked_live"] = tracked.live
            facts["caching.storage_mb"] = ctx.tracer.storage_mb()
        heap_readings = retained_heap_mb(spark)

        per_layer = None
        if failure is None:
            job.collect()
        if oracles is not None and oracles.wait() != 0:
            raise RuntimeError("the oracle process failed")
        with open(os.path.join(data, "expected.json"), encoding="utf-8") as fh:
            meta.update(json.load(fh))
        if failure is None:
            job.check()
            if ctx.tracer is not None:
                per_layer = layers.compute(ctx.tracer, job, facts)
                ctx.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        run_versions = versions(spark)
    finally:
        if oracles is not None and oracles.poll() is None:
            oracles.kill()
            oracles.wait()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = job.ops
    # Operations never reached after a raising one count as failed too.
    attempted = job.planned
    failed = attempted - sum(op.ok for op in ops)
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "cpus": host.cpus(),
            "mem_total_kb": host.mem_total_kb(),
            "driver_mem": DRIVER_MEM,
            **run_versions,
            "loadavg_start": load_start,
            "loadavg_end": host.loadavg(),
            "cpu_busy_at_start": round(busy_at_start, 3),
            "quiet_wait_s": round(waited, 2),
            "steal_share": round(host.steal_share(stat0, stat1), 4),
            "foreign_cpu_s": round(host.busy_s(stat0, stat1) - job_cpu_s, 3),
        },
        "wall_s": round(time.perf_counter() - T_START, 2),
        "prepare_s": round(prepare_s, 3),
        "session_s": round(session_s, 3),
        "job_shorter_than_seconds": job_s < args.seconds,
        "heap_readings_mb": [round(x, 1) for x in heap_readings],
        "operations": [[op.name, round(op.latency_s, 4)] for op in ops],
        "failures": [f"{op.name}: {op.why}" for op in ops if not op.ok],
    }
    if failure is not None:
        details["error"] = failure
    metrics = {}
    if failed == 0:
        by_type: dict[str, list[float]] = {}
        for op in ops:
            by_type.setdefault(op.name, []).append(op.latency_s)
        medians = {name: statistics.median(v) for name, v in by_type.items()}
        e2e = {
            "setup_s": setup_s,
            "job_s": job_s,
            "op_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians.values())),
            "job_cpu_s": job_cpu_s,
            "retained_heap_mb": heap_readings[-1],
        }
        details["op_median_s"] = {n: [round(m, 4), len(by_type[n])] for n, m in medians.items()}
        details["metrics"] = e2e
        if per_layer is not None:
            details["per_layer"] = per_layer
            metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
