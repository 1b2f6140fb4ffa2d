"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 20 --trace 0

Runs one workload against the engine's public API from the root of a
checkout and prints, as the last line of standard output, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 Spark's event log
is switched on from outside the program and the metrics are the
per-layer ones. See perfbench/README.md.

Everything a run writes goes to a fresh directory under
`.perfbench_run/` in the checkout, removed when the run ends. A traced
run also leaves its spans in `.perfbench_run/spans/`.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "peerdb_cdc_psql_clickhouse_spark"
UNITS = (
    ("_per_s", "1/s"),
    ("_ms_per_change", "ms/change"),
    ("_pct", "%"),
    ("_ms", "ms"),
    ("_s", "s"),
    ("_mb", "MB"),
    ("_bytes", "bytes"),
    ("_bytes_per_change", "bytes/change"),
    ("_ratio", "ratio"),
    ("_frac", "ratio"),
)
# how long a stopped run waits for each of its processes to end
SHUTDOWN_WAIT_S = 20.0


class Context:
    """What a workload gets: the session, its seed, size and time
    budget, a private scratch directory and the tracer."""

    def __init__(self, spark, args, run_dir: str, tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.dir = run_dir
        self.tracer = tracer


def _isolate(run_dir: str, trace: bool) -> None:
    """Point every scratch location at run_dir before the JVM starts."""
    cpus = str(os.cpu_count() or 1)
    os.environ.update(
        TMPDIR=run_dir,
        SPARK_LOCAL_DIRS=run_dir,
        SPARK_GRAFT_CPUS=cpus,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    # the engine's own defaults for input sizing and driver heap
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    tempfile.tempdir = run_dir
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        os.makedirs(f"{run_dir}/eventlog")
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{run_dir}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def unit_of(metric: str) -> str:
    """Units follow the metric name's suffix."""
    for suffix, unit in UNITS:
        if metric.endswith(suffix):
            return unit
    return "count"


def _shutdown(spark) -> None:
    """Stop Spark and end every process this run started: the gateway
    JVM exits on EOF of its stdin, and the Python workers when the JVM
    goes. Waits until each has ended, and kills what outlives
    SHUTDOWN_WAIT_S, so that nothing of a run is left behind it."""
    from pyspark import SparkContext

    others = procfs.process_tree() - {os.getpid()}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=SHUTDOWN_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + SHUTDOWN_WAIT_S
    for sig in (signal.SIGTERM, signal.SIGKILL):
        while any(procfs.alive(p) for p in others) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in others:
            if procfs.alive(p):
                with contextlib.suppress(OSError):
                    os.kill(p, sig)
        deadline = time.monotonic() + SHUTDOWN_WAIT_S
    # reap children of this process that are not the JVM
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()
    # a terminated run still stops its JVM (see _shutdown)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.chdir(ROOT)  # Python workers resolve the package from the cwd
    import cdc
    from spans import Tracer, event_log_layers

    workloads = {"cdc_catchup": cdc.catchup, "cdc_live": cdc.live}
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}",
              file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    spark = None
    try:
        _isolate(run_dir, bool(args.trace))
        t0 = time.perf_counter()
        from peerdb_cdc_psql_clickhouse_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, jobs=bool(args.trace))
        ctx = Context(spark, args, run_dir, tracer)
        res = workloads[args.workload](ctx)
        res["e2e"]["setup_s"] = session_s + res.pop("setup_s")
        res["layers"]["process.peak_rss_mb"] = procfs.tree_peak_rss_mb()
        if args.trace:
            _shutdown(spark)  # flushes the event log
            spark = None
            layers = dict(res["layers"])
            layers.update(event_log_layers(f"{run_dir}/eventlog"))
            layers.update({f"{k}.self_s": v for k, v in tracer.self_times().items()})
            layers.update({f"traced.{k}": v for k, v in res["e2e"].items()})
            # a fixed set of names: 0 where a layer did no work
            metrics = {k: layers.get(k, 0.0) for k in cdc.LAYER_METRICS}
            os.makedirs(f"{runs}/spans", exist_ok=True)
            spans = f"{runs}/spans/{args.workload}-seed{args.seed}.jsonl"
            tracer.dump(spans)
            print(f"spans: {spans}", file=sys.stderr)
        else:
            metrics = {k: res["e2e"][k] for k in cdc.E2E_METRICS}
        print(f"host CPU steal in the measured window: {res['layers']['host.steal_pct']:.1f}%",
              file=sys.stderr)
        for note in res["notes"]:
            print(f"FAILED: {note}", file=sys.stderr)
        out = {
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {
                k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(metrics.items())
            },
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
