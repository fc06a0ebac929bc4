"""Benchmark entry point.

    python3 perfbench/run.py --workload ecg_global_local --seed 1 --seconds 18 --trace 0

Runs one workload of ``BENCHMARK.json`` on ``local[<cores>]`` in this
process and prints, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything the run writes goes under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
# Below physical memory on a small host; the session's own default is 16g.
DRIVER_MEMORY = "2g"
# Input preparation is repeated and its median taken, to steady setup_s.
PREPARE_REPS = 3


def launch_env(cores: int) -> None:
    """Fix the launch settings before pyspark or the program is imported:
    the session reads its core count and driver memory from these
    variables, and pandas-UDF workers import ``bigdata_spark`` through
    PYTHONPATH whatever the working directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(path),
        PYSPARK_PYTHON=sys.executable,
        # every JVM (the launcher and the driver) keeps its temporary
        # files in the work directory, and writes no perf data to /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    sys.path[:0] = [ROOT, BENCH_DIR]


def spark_conf(log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(WORK, "tmp"),
    }
    if log_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def quiet_logs(spark) -> None:
    """ERROR level, and the DAGScheduler's harmless "Failed to update
    accumulator" traces (late task events after cleanup) silenced."""
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL
    )


def jvm_peak_rss_mb(spark) -> float:
    """High-water mark of the JVM's resident set, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024.0


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def trace_hooks(tracer):
    """Spans around public entry points that run inside the pipeline."""
    from bigdata_spark.ml.global_tree import GlobalProximityTree
    from bigdata_spark.ml.local_forest import LocalProximityForest
    from bigdata_spark.plans import pipeline
    from tracing import wrapped

    stack = contextlib.ExitStack()
    stack.enter_context(wrapped(tracer, GlobalProximityTree, "fit", "global_tree.fit"))
    stack.enter_context(wrapped(tracer, LocalProximityForest, "fit", "local_forest.fit"))
    stack.enter_context(wrapped(tracer, pipeline, "_confusion_counts", "evaluation.confusion"))
    return stack


def guarded(step):
    """Run one step of the program; an exception is reported and counted
    as failed operations, not fatal to the run."""
    try:
        return step()
    except Exception:  # noqa: BLE001 - the run must go on to report it
        traceback.print_exc()
        return None


def report(problems) -> None:
    for p in problems or ():
        print(f"perfbench: check failed: {p}", file=sys.stderr)


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    launch_env(cores)
    from bigdata_spark.session import get_spark
    from tracing import EventLog, Tracer
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)

    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.seed, WORK, tracer)
    with tracer.span("session.get_spark") as session:
        spark = get_spark("perfbench", extra_conf=spark_conf(log_dir))
    if args.trace:
        tracer.spark = spark
    attempted = failed = 0
    try:
        quiet_logs(spark)
        prep = []
        for _ in range(PREPARE_REPS):
            t = time.perf_counter()
            wl.prepare(spark)
            prep.append(time.perf_counter() - t)

        with tracer.span("warm_up") as warm:
            problems = guarded(wl.warm_up)
        if problems is None:
            problems = ["warm-up raised"]
        report(problems)
        attempted += wl.ops_per_pass()
        failed += min(len(problems), wl.ops_per_pass())
        setup_s = session.seconds + statistics.median(prep) + warm.seconds

        passes, outs = [], []
        with trace_hooks(tracer) if args.trace else contextlib.nullcontext():
            while sum(p.seconds for p in passes) < args.seconds:
                attempted += wl.ops_per_pass()
                with tracer.span("pass") as p:
                    out = guarded(wl.run_pass)
                passes.append(p)
                if out is None:  # raised: stop timing a broken program
                    failed += wl.ops_per_pass()
                    break
                problems = wl.check_pass(out)
                report(problems)
                if problems:
                    failed += wl.ops_per_pass()
                    continue
                outs.append((p, out))
            if args.trace:
                wl.probes()
        jvm_rss = jvm_peak_rss_mb(spark)
    finally:
        stop(spark)

    run_s = statistics.median(p.seconds for p in passes)
    if not args.trace:
        # the Python driver's peak; the JVM's, which follows its garbage
        # collector's heap sizing, is a per-layer metric
        driver_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        metrics = {"setup_s": setup_s, "run_s": run_s, "driver_rss_mb": driver_rss}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    else:
        log = EventLog.read(log_dir)
        shutil.rmtree(log_dir, ignore_errors=True)
        metrics = {m["name"]: 0.0 for m in spec["per_layer"]}
        engine = [log.stats(p, cores) for p in passes]
        for key in ("jobs", "tasks", "failed_tasks", "gc_s", "result_mb", "driver_only_s"):
            metrics[f"spark.{key}"] = statistics.median(e[key] for e in engine)
        metrics["session.get_spark_s"] = session.seconds
        metrics["jvm.peak_rss_mb"] = jvm_rss
        metrics["trace.run_s"] = run_s
        if outs:
            metrics.update(wl.layer_metrics(log, [p for p, _ in outs], [o for _, o in outs], cores))
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unknown = set(metrics) - set(units)
    if unknown:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
