"""Poll-loop benchmark for spark-graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One process drives Spark at
``local[<cpus available>]`` with no extra client threads.  The run:

1. sets up ``SETUP_REPS`` times (Spark session start plus seeded input
   generation) and keeps the last set-up; ``setup_s`` is the median (a
   traced run, which does not report it, sets up once);
2. warms up, untimed: one full pass (the operator pack first runs every
   query's DuckDB twin);
3. runs closed-loop passes over the whole input until ``--seconds`` have
   passed and the workload's ``min_passes`` have run; a batch's cost is the
   least it took in any of them;
4. checks every pass's output and prints, as its last stdout line,
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  Apart from ``setup_s`` they
are CPU times of the whole process tree (driver, JVM, Python workers), which
other tenants of a shared host move far less than wall time.  On a 4-vCPU
virtual machine, the operator pack's warmed passes took 50-60% more wall time
and at most 8% more CPU time with three busy-looping processes beside them;
while the hypervisor stole 9-20% of the vCPUs' time, four such passes took
14.7-20.3 s of wall time (10-12 s on a quiet host) and 24.1-25.6 s of CPU
time.
``--trace 1`` adds one traced pass after the untraced ones and reports the
per-layer metrics: the wall-clock latencies and peak memory of the untraced
passes (``loop.*``, ``mem.*``), the layers' own figures, and the trace
overhead (traced wall minus the last untraced wall).  Spans go to
``.perfbench/trace-<workload>-<seed>.json``.  Everything the run writes stays
under ``.perfbench/`` in the checkout.  The exit code is 0 only when every
output check passed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

SETUP_REPS = 3
END_TO_END = {"setup_s": "s", "cpu_s": "s", "rows_per_cpu_s": "1/s"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it.  Below 20 samples that percentile would fall under
    the median, so the maximum is reported as percentile 100."""
    s = sorted(samples)
    k = len(s) - 10
    if 2 * k < len(s):
        return s[-1], 100.0
    return s[k - 1], 100.0 * k / len(s)


def process_tree(spark) -> list[int]:
    """This process, the JVM and every process the JVM started (Python
    daemon and workers)."""
    jvm = spark._jvm.java.lang.ProcessHandle.current()
    return [os.getpid(), jvm.pid()] + [h.pid() for h in jvm.descendants().toArray()]


def reset_peak_rss(spark) -> None:
    """Restart every process's peak-RSS counter (VmHWM) at its current RSS,
    so the peak covers the timed passes, not set-up or warm-up."""
    for pid in process_tree(spark):
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
                f.write("5")
        except OSError:
            continue  # a worker that exited between listing and writing


def peak_rss_mb(spark) -> float:
    """Peak resident set of the process tree, summed."""
    kb = 0
    for pid in process_tree(spark):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue  # a worker that exited between listing and reading
    return kb / 1024


def cpu_ticks() -> list[int]:
    """Host CPU counters (user, nice, system, idle, iowait, irq, softirq,
    steal) from /proc/stat, in clock ticks."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_info(spark, root: str) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.conf.get("spark.driver.memory", "1g"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "loadavg": os.getloadavg(),
    }


def start_spark(work: str):
    from engine.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="spark-graft-perfbench",
        master=f"local[{cpus}]",
        # one shuffle partition per core, bench.py's local[32]/32 convention;
        # streaming state operators keep this count for the query's life
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            # the traced run diffs the status store over a whole pass
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end
    (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, root: str, work: str) -> dict:
    from perfbench.workloads import WORKLOADS

    setup_s, spark, wl = [], None, None
    for _ in range(1 if args.trace else SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_spark(work)
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(work, "wl"))
        wl.setup()
        setup_s.append(time.perf_counter() - t0)

    log(f"set-up x{len(setup_s)}: " + " ".join(f"{t:.2f}" for t in setup_s) + " s")
    info = {"workload": args.workload, "seed": args.seed, "host": host_info(spark, root),
            "inputs": wl.summary()}
    t0 = time.perf_counter()
    warm_attempted, warm_failures = wl.warm()
    log(f"warm-up: {time.perf_counter() - t0:.2f} s")
    passes = []
    t_start = time.perf_counter()
    while len(passes) < wl.min_passes or time.perf_counter() - t_start < args.seconds:
        # every pass starts from collected heaps, not from the garbage the
        # warm-up or the previous pass left behind
        gc.collect()
        spark._jvm.java.lang.System.gc()
        if not passes:
            reset_peak_rss(spark)
        k0 = cpu_ticks()
        passes.append(wl.run_pass())
        d = [b - a for a, b in zip(k0, cpu_ticks())]
        log(f"pass {len(passes)}: {passes[-1].wall_s:.2f} s, {len(passes[-1].batch_s)} batches, "
            f"cpu {passes[-1].cpu_s:.2f} s, host steal {d[7] / sum(d):.3f} idle {d[3] / sum(d):.3f}; "
            f"batch cpu p50 {statistics.median(passes[-1].batch_cpu_s):.2f} max {max(passes[-1].batch_cpu_s):.2f} s")
    rss_mb = peak_rss_mb(spark)
    log(f"peak rss over the timed passes: {rss_mb:.0f} MB")
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}")
        traced = wl.run_pass(tracer)
        tracer.dump(os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))
        passes.append(traced)

    # context, not a metric: bench.py's Spark steal anchor, after the passes
    from bench import spark_anchor_sample

    info["spark_anchor_s"] = spark_anchor_sample(spark, n=1)
    failures = warm_failures + [f for p in passes for f in p.failures]
    timed = passes[: len(passes) - args.trace]
    if len({len(p.batch_s) for p in timed}) > 1:
        failures.append(f"batch counts differ between passes: {[len(p.batch_s) for p in timed]}")
    batch_s = [min(b) for b in zip(*(p.batch_s for p in timed))]
    batch_cpu_s = [min(b) for b in zip(*(p.batch_cpu_s for p in timed))]
    tail_s, tail_pct = tail(batch_s)
    info.update(
        {
            "passes": len(timed),
            "pass_cpu_s": [p.cpu_s for p in timed],
            "batch_cpu_s": [p.batch_cpu_s for p in timed],
            "batches": len(batch_s),
            "tail_percentile": tail_pct,
            "measured": passes[-1].measured,
            "failures": failures[:20],
        }
    )
    if args.trace:
        layers = dict(traced.layers)
        layers["trace.overhead_s"] = traced.wall_s - passes[-2].wall_s
        layers["loop.wall_s"] = sum(batch_s)
        layers["loop.rows_per_s"] = timed[0].rows / sum(batch_s)
        layers["loop.batch_p50_s"] = statistics.median(batch_s)
        layers["loop.batch_tail_s"] = tail_s
        layers["loop.batch_cpu_p50_s"] = statistics.median(batch_cpu_s)
        layers["loop.batch_cpu_tail_s"] = tail(batch_cpu_s)[0]
        layers["mem.peak_rss_mb"] = rss_mb
        metrics = layer_metrics(layers)
    else:
        values = {
            "setup_s": statistics.median(setup_s),
            "cpu_s": sum(batch_cpu_s),
            "rows_per_cpu_s": timed[0].rows / sum(batch_cpu_s),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(info, default=str), flush=True)
    stop_spark(spark)
    return {
        "correct": not failures,
        "attempted": warm_attempted + sum(p.attempted for p in passes),
        "failed": len(failures),
        "metrics": metrics,
    }


def layer_metrics(layers: dict) -> dict:
    """Every declared per-layer metric; a layer the workload does not
    exercise reads 0."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import bench  # noqa: F401  (the engine checkout this benchmark measures)
        import engine.app  # noqa: F401
        import queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: no spark-graft engine in {root}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import engine/perfbench from the checkout; every temp
    # file of this process tree stays under the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"run: {time.perf_counter() - t_run:.1f} s")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
