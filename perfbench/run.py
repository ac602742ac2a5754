#!/usr/bin/env python3
"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload bulk_replay --seed 42 --seconds 10 --trace 0

Workloads: bulk_replay, trickle_view (see README.md).
Inputs are generated once per (workload, seed) under perfbench/.cache
and never timed. The run launches its own Spark session with pinned
settings, sets up three times (fresh tables each time, every timed
call), measures its closed main loop and its queries for about
``--seconds``, then checks the results against an oracle.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same loop with
a Spark job group per call and the event log on, and reports the
per-layer metrics. Exit code 0 when every check passed, 1 when a check
failed or an operation raised, 2 when the engine sources are missing.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "embulk_util_json_spark")
SETUP_PASSES = 3
MIN_QUERIES = 20
QUERY_S = 2.0
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"


class Ctx:
    """Run state shared by the workload and the harness."""

    def __init__(self, spark, tracer, work: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rounds = 0
        self.events = 0
        self.typed_docs = 0
        self.parity_docs = 0
        self.applies: list[dict] = []
        self.steal_share = 0.0

    def applied(self, events: int, result: dict | None) -> None:
        self.events += events
        if result is not None:
            self.applies.append(result)


def build_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # A fixed heap and young generation: G1's adaptive heap and
        # eden sizing moved the JVM's peak RSS by a quarter from run to
        # run. The throughput collector made bulk_replay throughput
        # faster and steadier than G1 on four cores.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:+UseParallelGC"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
        os.makedirs(conf["spark.eventLog.dir"])
    builder = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def peak_rss_mb(jvm_pid: int) -> float:
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU jiffies of this machine since boot."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def measure(wl, ctx, seconds: float) -> None:
    """Closed main loop of whole rounds until ``seconds`` less QUERY_S
    have passed (at least ``wl.MIN_ROUNDS`` of them), then queries until
    ``seconds`` have passed, at least MIN_QUERIES of them."""
    t0 = time.perf_counter()
    while True:
        wl.round(ctx)
        ctx.rounds += 1
        if (ctx.rounds >= wl.MIN_ROUNDS
                and time.perf_counter() - t0 >= seconds - QUERY_S):
            break
    queries = 0
    while queries < MIN_QUERIES or time.perf_counter() - t0 < seconds:
        wl.query(ctx)
        queries += 1


def end_to_end(wl, ctx, setup_s: float, rss: float) -> dict:
    step_s = sum(s.wall_s for layer in wl.STEP_LAYERS for s in ctx.tracer.of(layer))
    return {
        "setup_s": (setup_s, "s"),
        "events_per_s": (ctx.events / step_s, "1/s"),
        "query_s": (
            statistics.median(s.wall_s for s in ctx.tracer.of(wl.QUERY_LAYER)), "s"),
        "stored_bytes_per_input_byte": (wl.stored_bytes / wl.input_bytes, "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }


CPU_LAYERS = ("apply", "refresh", "read", "lookup", "capture.typed", "capture.parity")


def per_layer(wl, ctx, e2e: dict, setup: dict) -> dict:
    from spans import job_busy_s

    tr = ctx.tracer

    def walls(layer):
        return [s.wall_s for s in tr.of(layer)]

    def jobs(layer):
        xs = [s.jobs for s in tr.of(layer)]
        return statistics.median(xs) if xs else 0

    def per_call(layer, key):
        return mean(s.stats.get(key, 0.0) for s in tr.of(layer))

    applies = tr.of("apply")
    scans = tr.of("cut.scan")
    scan_tasks = [
        min(s.stats.get("stage_tasks", [(0, 0)]))[1] for s in scans
    ]
    typed, parity = walls("capture.typed"), walls("capture.parity")
    depths = [a.get("chain_depth", 0) for a in ctx.applies]
    m = {
        "sources.scan_tasks": (statistics.median(scan_tasks) if scan_tasks else 0, "count"),
        "sources.events.parse_s": (
            sum(walls("cut.parse")) - sum(walls("cut.scan")), "s"),
        "sinks.snapshot.apply_s": (mean(walls("apply")), "s"),
        "sinks.snapshot.apply_jobs": (jobs("apply"), "count"),
        "sinks.snapshot.apply_driver_s": (
            mean(s.wall_s - job_busy_s(s) for s in applies), "s"),
        "sinks.snapshot.shuffle_write_bytes": (
            per_call("apply", "shuffle_write_bytes"), "B"),
        "sinks.snapshot.compactions": (
            sum(1 for d in depths if d > wl.COMPACT_EVERY) / max(ctx.rounds, 1),
            "count"),
        "sinks.snapshot.chain_depth_max": (max(depths, default=0), "count"),
        "sinks.snapshot.bytes_written": (wl.stored_bytes, "B"),
        "sinks.snapshot.read_s": (mean(walls("read")), "s"),
        "sinks.snapshot.read_jobs": (jobs("read"), "count"),
        "sinks.snapshot.lookup_s": (mean(walls("lookup")), "s"),
        "sinks.snapshot.lookup_jobs": (jobs("lookup"), "count"),
        "pipeline.views.refresh_s": (mean(walls("refresh")), "s"),
        "pipeline.views.refresh_jobs": (jobs("refresh"), "count"),
        "operators.capture.typed_s": (mean(typed), "s"),
        "operators.capture.parity_s": (mean(parity), "s"),
        "operators.capture.typed_docs_per_s": (
            ctx.typed_docs / sum(typed) if typed else 0.0, "1/s"),
        "operators.capture.parity_docs_per_s": (
            ctx.parity_docs / sum(parity) if parity else 0.0, "1/s"),
        "loop.steps": (
            len(tr.of(wl.STEP_LAYERS[0])), "count"),
        "loop.step_s": (
            sum(sum(walls(layer)) for layer in wl.STEP_LAYERS)
            / max(len(tr.of(wl.STEP_LAYERS[0])), 1), "s"),
        "host.steal_share": (ctx.steal_share, "ratio"),
        "setup.launch_s": (setup["launch_s"], "s"),
        "setup.cold_pass_s": (setup["passes"][0], "s"),
        "setup.warm_pass_s": (statistics.median(setup["passes"][1:]), "s"),
    }
    for name, (value, unit) in e2e.items():
        m[f"trace.{name}"] = (value, unit)
    for layer in CPU_LAYERS:
        m[f"spark.task_cpu_s.{layer}"] = (per_call(layer, "task_cpu_s"), "s")
        m[f"spark.gc_s.{layer}"] = (per_call(layer, "gc_s"), "s")
    return m


def cache_dir(wl, seed: int) -> str:
    """Input cache for (workload, seed), also keyed by the input sizes so
    that a change to them never reuses old files."""
    return os.path.join(HERE, ".cache", f"{wl.name}-{wl.INPUT_KEY}-s{seed}")


def run(args) -> int:
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer

    wl = workloads.WORKLOADS[args.workload]()
    cache = cache_dir(wl, args.seed)
    # Generate in a child process first, so that the driver's peak RSS
    # does not include the generator; the call below then only reads
    # the cached files' metadata.
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--generate-only"],
        check=True,
    )
    wl.make_inputs(cache, args.seed)
    log("inputs ready")

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".work"))
    os.makedirs(os.path.join(work, "tmp"))
    # Everything Spark and its Python workers write stays in the run's
    # work directory; an inherited SPARK_LOCAL_DIRS would override
    # spark.local.dir.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    t0 = time.perf_counter()
    spark = build_session(work, args.trace)
    launch_s = time.perf_counter() - t0
    log(f"session launched in {launch_s:.2f}s")
    sc = spark.sparkContext
    ctx = Ctx(spark, Tracer(sc, False), work, args.seed)
    failures: list[str] = []
    attempted = 0
    result = None
    try:
        passes = []
        for i in range(SETUP_PASSES):
            t = time.perf_counter()
            wl.setup_pass(ctx, i)
            passes.append(time.perf_counter() - t)
            shutil.rmtree(os.path.join(work, f"warm{i}"), ignore_errors=True)
        log("set-up passes " + ", ".join(f"{p:.2f}s" for p in passes))
        setup = {"launch_s": launch_s, "passes": passes}
        setup_s = launch_s + statistics.median(passes)

        ctx.tracer = Tracer(sc, args.trace)
        ctx.applies = []
        ctx.events = 0
        steal0, total0 = cpu_ticks()
        measure(wl, ctx, args.seconds)
        steal1, total1 = cpu_ticks()
        ctx.steal_share = (steal1 - steal0) / max(total1 - total0, 1)
        log(f"measured {ctx.rounds} round(s)")
        if args.trace:
            wl.extras(ctx)
            log("traced extras done")
        attempted = len(ctx.tracer.spans)
        rss = peak_rss_mb(jvm_process().pid)

        checks = wl.check(ctx)
        log("checks done")
        attempted += 1
        failures += checks
        e2e = end_to_end(wl, ctx, setup_s, rss)
        result = e2e
    except Exception:
        failures.append(traceback.format_exc())
        attempted += 1
    finally:
        stop_session(spark)

    if result is not None:
        if args.trace:
            ctx.tracer.attach_event_log(os.path.join(work, "eventlog"))
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(
            out_dir, f"spans-{args.workload}-s{args.seed}-t{args.trace}.json"))
        if args.trace:
            result = per_layer(wl, ctx, result, setup)
    shutil.rmtree(work, ignore_errors=True)
    log("session stopped")

    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in (result or {}).items()}
    for k, m in metrics.items():
        print(f"{args.workload:16s} {k:45s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({
        "correct": not failures and result is not None,
        "attempted": max(attempted, 1),
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0 if not failures and result is not None else 1


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_replay", "trickle_view"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--generate-only", action="store_true",
                    help="only generate and cache the workload's inputs")
    return ap.parse_args(argv)


if __name__ == "__main__":
    args = parse_args()
    if not os.path.isdir(ENGINE):
        print(f"engine sources not found at {ENGINE}; run from a full checkout",
              file=sys.stderr)
        sys.exit(2)
    if args.generate_only:
        sys.path.insert(0, ROOT)
        import workloads

        wl = workloads.WORKLOADS[args.workload]()
        wl.make_inputs(cache_dir(wl, args.seed), args.seed)
        sys.exit(0)
    sys.exit(run(args))
