"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a report of the workload's own named
metrics with units and sample counts, the host configuration and
versions. Exit code 0 means every correctness check passed, 1 that one
failed, 2 that the benchmark could not run at all.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; the run's scratch directory is removed at exit and the
traced run's spans are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("bulk_build", "served_search")
DRIVER_MEM = "4g"
HASH_SEED = "0"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, trace: bool) -> dict:
    """Host-fitted Spark settings, exported before the JVM starts. Every
    file Spark or Python writes lands under ``work``."""
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (local_dir, tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the run starts (the spark-submit launcher included): temp
    # files in the work dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    # Python workers import graphiti_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    return {"driver_mem": DRIVER_MEM, "local_dirs": local_dir,
            "cores": host_cores(), "event_log": trace,
            "python_hash_seed": HASH_SEED}


def start_session():
    from graphiti_spark.session import get_spark
    spark = get_spark(app="perfbench", cores=host_cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water mark plus the Python driver's."""
    jvm_kb = 0
    proc = spark.sparkContext._gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()       # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Session:
    """The run's Spark session. ``release`` records the driver's peak RSS
    and versions, then stops Spark; it is safe to call twice."""

    def __init__(self):
        self.spark = start_session()
        self.facts: dict = {}

    def release(self) -> None:
        if self.spark is None:
            return
        try:
            self.facts = {"peak_rss_mb": peak_rss_mb(self.spark),
                          **versions(self.spark)}
        finally:
            stop_session(self.spark)
            self.spark = None


def versions(spark) -> dict:
    import pyspark
    return {"python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version")}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # str hashing is randomized per process, and the served search's
        # speed moves with it by up to ~15% on the same input: fix it
        # (before the interpreter starts, so by re-exec) for this process
        # and the Spark Python workers it starts
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable] + sys.argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphiti_spark",
                                       "__init__.py")):
        print(f"perfbench: no graphiti_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-"
                                   f"t{args.trace}-{os.getpid()}")
    host = configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    from tracing import Tracer, read_event_log
    from workloads import (END_TO_END, PER_LAYER, WORKLOADS, Context,
                           per_layer_metrics)

    t0, wall0 = time.perf_counter(), time.time()
    session = Session()
    start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(f"{args.workload}-seed{args.seed}", bool(args.trace),
                        session.spark)
        tracer.record("session.start", wall0, start_s)
        ctx = Context(spark=session.spark, seed=args.seed,
                      seconds=args.seconds, tracer=tracer, work=work,
                      t_start=t_start, release_spark=session.release)
        res = WORKLOADS[args.workload](ctx)
    finally:
        session.release()
    res.note("setup_s", res.setup_s, "s")
    res.note("peak_rss_mb", session.facts.pop("peak_rss_mb"), "MB")
    host.update(session.facts)

    res.note("error_rate", res.error_rate, "ratio", res.attempted)
    if args.trace:
        jobs = read_event_log(os.path.join(work, "events"))
        values = per_layer_metrics(tracer, jobs, res)
        tracer.write(os.path.join(WORK_ROOT, "traces",
                                  f"{args.workload}-seed{args.seed}-"
                                  f"{os.getpid()}.json"))
        specs = PER_LAYER
    else:
        values = {**res.end_to_end, "setup_s": res.setup_s}
        specs = END_TO_END
    shutil.rmtree(work, ignore_errors=True)

    correct = res.failed == 0
    print(json.dumps({"report": {"workload": args.workload,
                                 "seed": args.seed, "trace": args.trace,
                                 "host": host, "metrics": res.report}}))
    print(json.dumps({
        "correct": correct, "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit}
                    for name, (unit, _better) in specs.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
