"""Run one benchmark workload and print its result as the last stdout line.

    python3 benchmark/run.py --workload tier_refresh --seed 1 --seconds 1 --trace 0

Run from the repository root. One driver process runs the workload at
``local[<cores>]`` (default: every core) as a closed loop with one client.
Set-up launches the JVM and gets the Spark session, starts the Python
workers (for workloads that run pandas UDFs) and stages the seeded inputs;
``setup_s`` is the CPU time it takes. The timed section then runs passes of the workload until
``--seconds`` of pass time have elapsed (at least one pass) and checks
every pass's output. A wrong output counts every operation of that pass as
failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
passes with span recorders on the layer entry points and the Spark event
log on, prints one JSON line per span name (the layer table), and reports
the per-layer metrics instead.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "1g"


def start_session(work: str, cores: int, trace: bool):
    from etna_spark.session import get_spark

    # A fixed, pre-touched heap in place of the session's 8g maximum: with a
    # growing heap, peak RSS follows when the collector happened to size the
    # heap up. peak_rss_mb then sees only what is held outside the JVM heap
    # and in the Python workers.
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # the default zstd codec needs the zstandard module to read back
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("etna-benchmark", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cores: int) -> None:
    """Start one Python worker per core, so the timed section reuses them."""
    spark.range(0, cores, numPartitions=cores).mapInPandas(
        lambda it: it, "id long").count()


def stop_everything(spark) -> None:
    """Stop Spark, then the JVM and every child process."""
    spark.stop()
    reap_jvm()


def reap_jvm() -> None:
    """End the JVM gateway process if one is running and wait until no child
    process of this one is left."""
    from pyspark import SparkContext

    from benchmark.procstat import proc_tree

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(proc_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "etna_spark")):
        print(f"no etna_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    from benchmark.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    # on SIGTERM, unwind through the finally below: the run directory is
    # removed, and the JVM exits when this process closes its stdin pipe
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args, WORKLOADS[args.workload](), work)
    finally:
        try:
            reap_jvm()  # no-op after a normal run; stops a JVM an interrupt left running
        finally:
            shutil.rmtree(work, ignore_errors=True)


def run(args, wl, work: str) -> int:
    from benchmark.procstat import cpu_s, peak_rss_mb
    from benchmark.trace import Tracer, install

    trace = bool(args.trace)
    t0, c0 = time.perf_counter(), cpu_s()
    spark = start_session(work, args.cores, trace)
    if wl.uses_python_workers:
        warm_up(spark, args.cores)
    wl.stage(spark, os.path.join(work, "input"), args.seed)
    # CPU time, like cpu_s: the wall time of a set-up moves with host CPU
    # steal by more than the bound between two sets of runs
    setup_s = cpu_s() - c0
    print(f"setup: {setup_s:.3f} CPU s, {time.perf_counter() - t0:.3f} s", file=sys.stderr)

    wl.prepare(spark)  # reference values for the output checks, untimed
    tracer = Tracer(spark, enabled=trace)
    restore = install(tracer) if trace else None
    passes, attempted, failed = [], 0, 0
    pass_time = 0.0
    while not passes or pass_time < args.seconds:
        k = len(passes)
        try:
            with tracer.span("pass"):
                p = wl.run_pass(spark, tracer, k)
            with tracer.span("check"):
                errors = wl.check(spark, p)
        except Exception:  # a failed operation is counted, not fatal to the report
            traceback.print_exc()
            attempted += 1
            failed += 1
            break
        attempted += len(p.ops)
        if errors:
            failed += len(p.ops)
            print(f"pass {k}: wrong output: {errors}", file=sys.stderr)
        passes.append(p)
        pass_time += p.wall_s
        print(f"pass {k}: {p.wall_s:.3f} s " + " ".join(f"{n}={t:.3f}" for n, t in p.ops),
              file=sys.stderr)
    rss = peak_rss_mb()
    if restore:
        restore()
    app_id = spark.sparkContext.applicationId
    stop_everything(spark)
    if not passes:
        return 1

    if trace:
        from benchmark.eventlog import EventLog
        from benchmark.layers import layer_table, per_layer, unit

        log = EventLog(os.path.join(work, "eventlog"), app_id)
        roots = [s["id"] for s in tracer.spans if s["name"] == "pass"][:len(passes)]
        for row in layer_table(tracer.spans, tracer.group_of, log):
            print(json.dumps({"layer": row}))
        # the wall-clock figures of a pass go with the per-layer metrics: host
        # CPU steal moves them by more than any end-to-end bound allows
        pass_layers = [dict(p.layer, points=p.points, **{
            "trace.cpu_s": p.cpu_s,
            "trace.op_p50_s": statistics.median(p.op_lat),
            "trace.points_per_s": p.points / p.rate_s,
        }) for p in passes]
        layers = per_layer(tracer.spans, tracer.group_of, log, roots, pass_layers, args.cores)
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(p.cpu_s for p in passes), "unit": "s"},
            "points_per_cpu_s": {"value": sum(p.points for p in passes)
                                 / sum(p.rate_cpu_s for p in passes), "unit": "1/cpu_s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
