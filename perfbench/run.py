"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload bulk-drain --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
closed loop with spans recorded, then calls each layer on its own and times
every query leaf, and prints the per-layer metrics. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root: the corpus (built once, then reused), warehouses, Spark's
local and temporary directories, and the traced run's spans
(``traces/<workload>-<seed>.json``). Workload sizes, engine settings and the
layer-to-metric map are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
KEEP = {"corpus", "traces"}  # survive the sweep between runs

WORKLOAD_NAMES = ("bulk-drain", "service-jobs")
SETUP_REPS = 3
MIN_JOBS = 2
DRIVER_MEM = "4g"  # the driver heap; the box has 15 GB shared with other work

E2E_UNITS = {
    "setup_s": "s",
    "job_latency_s.p50": "s",
    "cpu_s_per_job": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def sweep() -> None:
    """Remove what an earlier run left, except the reusable corpus."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if name not in KEEP:
            path = os.path.join(WORK, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.unlink(path)


def prepare_environment(cores: int) -> None:
    """Settings the JVM and the Python workers inherit: they must be in
    place before the first session starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system /tmp, from the launcher JVM either
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def start_spark(cores: int):
    from distributed_web_crawler_spark.session import get_spark

    return get_spark(
        app="perfbench",
        cores=cores,
        extra={
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until no process this run
    started is left."""
    from pyspark import SparkContext

    from procstat import tree_pids

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def end_to_end(wl, setup_s, peak_rss) -> dict:
    jobs = wl.jobs
    return {
        "setup_s": statistics.median(setup_s),
        "job_latency_s.p50": statistics.median(j["latency_s"] for j in jobs),
        "cpu_s_per_job": sum(j["cpu_s"] for j in jobs) / len(jobs),
        "peak_rss_mb": peak_rss / 2**20,
    }


def run(args, cores: int) -> dict:
    from distributed_web_crawler_spark.sources.corpus_source import build_corpus

    from layers import (
        check_queries, instrument, instrument_cost_s, layer_metrics, probe_layers, time_queries,
    )
    from procstat import TreeSampler
    from tracing import Tracer, median
    from workloads import CORPUS_PAGES, WORKLOADS

    ctx = SimpleNamespace(
        seed=args.seed, tracer=Tracer(), sampler=None, spark=None,
        corpus_path=os.path.join(WORK, "corpus", f"pages_{CORPUS_PAGES}"),
    )
    with TreeSampler() as sampler:
        ctx.sampler = sampler
        wl = WORKLOADS[args.workload](ctx)
        try:
            t0 = time.perf_counter()
            ctx.spark = start_spark(cores)
            session_start_s = time.perf_counter() - t0
            calls = instrument(ctx.tracer, ctx.spark) if args.trace else []

            # set-up: corpus build or reuse, a fresh warehouse and engine,
            # and an untimed warm-up job, repeated; the first repetition
            # also carries the session start. A traced run reports no
            # set-up time and sets up once.
            setup_s = []
            for rep in range(1 if args.trace else SETUP_REPS):
                t1 = time.perf_counter()
                build_corpus(ctx.spark, wl.spec, ctx.corpus_path)
                wl.warm_up(os.path.join(WORK, f"warmup{rep}"))
                setup_s.append(time.perf_counter() - t1 + (session_start_s if rep == 0 else 0))

            # closed loop: the next job starts when the previous one returns;
            # whole cycles only, so every run sends the same request mix
            warehouse = os.path.join(WORK, "warehouse")
            wl.start(warehouse)
            min_jobs = 1 if args.trace else MIN_JOBS
            ctx.tracer.enabled = bool(args.trace)
            t_end = time.perf_counter() + args.seconds
            failed = k = 0
            while k < min_jobs or time.perf_counter() < t_end or k % wl.cycle_len:
                try:
                    wl.run_job(k)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                k += 1
            ctx.tracer.enabled = False
            attempted = k

            errors = []
            for rec in wl.jobs:
                try:
                    errs = wl.check(rec)
                except Exception:
                    errs = [f"{rec['job']}: gate raised\n{traceback.format_exc()}"]
                failed += bool(errs)
                errors += errs
            print(f"# {wl.name} seed={args.seed} jobs={k} setup_s={[round(x, 2) for x in setup_s]} "
                  + " ".join(f"{j['kind']}:d{j.get('depth', '')}:r{j['rounds']}:{j['latency_s']:.2f}s"
                             for j in wl.jobs),
                  file=sys.stderr)

            if not args.trace:
                metrics = end_to_end(wl, setup_s, sampler.peak_rss)
                units = E2E_UNITS
            else:
                ctx.tracer.enabled = True
                metrics = probe_layers(ctx, wl, warehouse)
                q_metrics, frames = time_queries(ctx)
                ctx.tracer.enabled = False
                metrics.update(layer_metrics(ctx.tracer, calls, len(wl.jobs)))
                metrics.update(q_metrics)
                q_errors = check_queries(frames)
                attempted += len(frames)
                failed += len(q_errors) + (metrics["fetch.verify_fail_rows"] > 0)
                errors += q_errors
                job_s = sum(j["latency_s"] for j in wl.jobs)
                metrics.update({
                    "session.start_s": session_start_s,
                    "frontier.urls_per_s": sum(j["urls"] for j in wl.jobs) / job_s,
                    "trace.job_latency_p50_s": median(j["latency_s"] for j in wl.jobs),
                    "trace.spans": len(ctx.tracer.spans),
                    "trace.overhead_pct": 100 * instrument_cost_s(ctx, calls) / job_s,
                })
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                ctx.tracer.dump(os.path.join(WORK, "traces", f"{wl.name}-{args.seed}.json"))
                units = {name: unit_of(name) for name in metrics}
            for e in errors:
                print(f"GATE FAILED: {e}", file=sys.stderr)
        finally:
            if ctx.spark is not None:
                stop_spark(ctx.spark)
            ctx.tracer.unwrap_all()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_pct", "%"), ("_ns_per_key", "ns"),
                         ("_us_per_row", "us"), ("_ratio", "ratio"), ("bytes_per_url", "B"),
                         ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "ms" if "_ms" in name or name.endswith(".ms") else "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its session and JVM (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "distributed_web_crawler_spark")):
        print(f"perfbench: no distributed_web_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOAD_NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; known: {WORKLOAD_NAMES}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    sweep()
    prepare_environment(cores)
    sys.path[:0] = [HERE, ROOT]
    try:
        result = run(args, cores)
    finally:
        sweep()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
