"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run is one fresh process: it
generates the workload's inputs from the seed, sets the engine up
several times (the first launches the JVM, the others restart the Spark
context in it), runs the cold operation and then warm operations for
``--seconds`` seconds (the workload module sets the least number; no
operation is started that is not expected to end inside the window),
checks every output, and prints one JSON object as its last line:

* ``--trace 0``: the end-to-end metrics (no spans, no probes);
* ``--trace 1``: the per-layer metrics, after a report of every layer
  metric with the end-to-end metric and workload it should move, span
  self times and the measured tracing overhead.

Everything the run writes lives under ``.perfbench/`` in the checkout
and is deleted at exit, except the span dump of traced runs
(``.perfbench/traces/``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# set up at least SETUPS times, and until the restarts after the first
# (which launches the JVM) add up to SETUP_SECONDS, so cheap set-ups are
# repeated more often; setup_s is the median
SETUPS = 3
SETUP_SECONDS = 1.5
MAX_SETUPS = 12
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"

WORKLOADS = {
    "ingest_pipelines": "ingest",
    "staged_requests": "staged",
    "operator_mix": "mix",
}

# Per-layer metrics printed on the result line of a traced run: the ones
# every workload exercises (a layer a workload bypasses would read 0).
# The report lines above it carry the rest.
RESULT_LAYERS = {
    "session.start_s": "s",
    "engine.plan_s": "s",
    "engine.exec_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.shuffle_bytes": "bytes",
    "engine.scan_rows_per_out_row": "ratio",
    "trace.overhead_s": "s",
}

# layer metric -> (end-to-end metrics it should move, workloads); engine
# counts are per operation (ingest: per pass).
LAYER_MAP = {
    "session.start_s": ("setup_s", "all"),
    "io.warm_s": ("setup_s", "operator_mix"),
    "documents.read_s": ("ops_per_cpu_s cold_pass_cpu_s", "ingest_pipelines"),
    "documents.files": ("ops_per_cpu_s cold_pass_cpu_s", "ingest_pipelines"),
    "documents.files_per_s": ("ops_per_cpu_s cold_pass_cpu_s", "ingest_pipelines"),
    "cache.stage_write_s": ("ops_per_cpu_s", "ingest_pipelines"),
    "cache.stage_hit_s": ("setup_s", "staged_requests"),
    "extract.pdf_s": ("ops_per_cpu_s", "ingest_pipelines"),
    "extract.html_s": ("ops_per_cpu_s", "ingest_pipelines"),
    "extract.docs": ("ops_per_cpu_s", "ingest_pipelines"),
    "rest.calls": ("ops_per_cpu_s", "ingest_pipelines"),
    "rest.fetch_ratio": ("ops_per_cpu_s", "ingest_pipelines"),
    "sinks.write_s": ("ops_per_cpu_s write_amp", "ingest_pipelines"),
    "sinks.files_written": ("ops_per_cpu_s write_amp", "ingest_pipelines"),
    "sinks.bytes_written": ("ops_per_cpu_s write_amp", "ingest_pipelines"),
    "pipelines.legislator_counts_s": ("ops_per_cpu_s", "ingest_pipelines"),
    "pipelines.search_all_bills_s": ("ops_per_cpu_s", "ingest_pipelines"),
    "pipelines.budget_search_s": ("ops_per_cpu_s", "ingest_pipelines"),
    "req.search_ms": ("ops_per_cpu_s; wall latency_p50_ms latency_tail_ms", "staged_requests"),
    "req.sponsor_ms": ("ops_per_cpu_s; wall latency_p50_ms latency_tail_ms", "staged_requests"),
    "req.counts_ms": ("ops_per_cpu_s; wall latency_p50_ms latency_tail_ms", "staged_requests"),
    "plans.build_s": ("ops_per_cpu_s cold_pass_cpu_s", "operator_mix"),
    "mix.<query>_s": ("ops_per_cpu_s", "operator_mix"),
    "engine.plan_s": ("wall latency_p50_ms", "all"),
    "engine.exec_s": ("ops_per_cpu_s", "all"),
    "engine.jobs": ("ops_per_cpu_s", "all"),
    "engine.stages": ("ops_per_cpu_s", "all"),
    "engine.tasks": ("ops_per_cpu_s", "all"),
    "engine.failed_tasks": ("ops_per_cpu_s", "all"),
    "engine.shuffle_bytes": ("ops_per_cpu_s write_amp; wall latency_p50_ms", "all"),
    "engine.scan_rows_per_out_row": ("ops_per_cpu_s; wall latency_p50_ms", "all"),
    "trace.overhead_s": ("none (traced minus untraced operation time)", "all"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; below 1 only for the benchmark's own smoke tests")
    return p.parse_args(argv)


def isolate(run_dir: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python workers
    into ``run_dir``; must run before the JVM starts."""
    local, wh, tmp = (run_dir / d for d in ("spark-local", "warehouse", "tmp"))
    for d in (local, wh, tmp):
        d.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.sql.warehouse.dir={wh}",
        "--conf", f"spark.local.dir={local}",
        # a fixed-size heap keeps peak RSS from following the collector's resizing
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def shutdown() -> None:
    """Stop the session and the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import legislative_bills_database_spark  # noqa: F401  (the program under test)
        from legislative_bills_database_spark.plans import QUERIES  # noqa: F401
    except ImportError as e:
        print(f"run.py: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import measure

    workload = importlib.import_module(WORKLOADS[args.workload])
    run_dir = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    tracer = measure.Tracer(bool(args.trace))
    phases: dict[str, float] = {}
    try:
        isolate(run_dir)
        from legislative_bills_database_spark.session import get_spark

        t0 = time.perf_counter()
        inputs = workload.prepare(run_dir, args.seed, args.scale)
        phases["prepare"] = time.perf_counter() - t0
        setups, setups_cpu, spark, state = [], [], None, None
        while len(setups) < SETUPS or (sum(setups[1:]) < SETUP_SECONDS and len(setups) < MAX_SETUPS):
            if spark is not None:
                spark.stop()
            watch = measure.Stopwatch()
            with tracer.span("session.start"):
                spark = get_spark(app_name="perfbench", cpus=CPUS)
            state = workload.setup(spark, inputs, tracer)
            wall, cpu = watch.read()
            setups.append(wall)
            setups_cpu.append(cpu)
        t0 = time.perf_counter()
        outcome = workload.run(spark, inputs, state, args.seed, args.seconds, tracer)
        phases["run"] = time.perf_counter() - t0
        rss = measure.peak_rss_mb([os.getpid(), measure.jvm_pid(spark)])
    finally:
        t0 = time.perf_counter()
        shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
        phases["shutdown"] = time.perf_counter() - t0

    print(json.dumps({"workload": args.workload, "seed": args.seed, "setups_s": setups,
                      "setups_cpu_s": setups_cpu, "phases_s": phases, "notes": outcome.notes}))
    if args.trace:
        metrics = traced_metrics(args, tracer, outcome)
    else:
        # wall-clock figures: reported, not gated (see perfbench/README.md)
        tail, pct, n = measure.tail(outcome.latencies_s)
        print(json.dumps({"wall": {
            "setup_s": statistics.median(setups),
            "cold_pass_s": outcome.cold_pass_s,
            "ops_per_s": outcome.ops_per_s,
            "latency_p50_ms": 1000 * statistics.median(outcome.latencies_s),
            "latency_tail_ms": 1000 * tail,
            "latency_tail": {"percentile": pct, "samples": n},
        }}))
        metrics = {
            "setup_s": (statistics.median(setups_cpu), "s"),
            "cold_pass_cpu_s": (outcome.cold_pass_cpu_s, "s"),
            "ops_per_cpu_s": (outcome.ops_per_cpu_s, "ops/cpu_s"),
            "write_amp": (outcome.write_amp, "bytes/byte"),
            "peak_rss_mb": (rss, "MB"),
        }
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def traced_metrics(args, tracer, outcome) -> dict[str, tuple[float, str]]:
    """Print the full per-layer report and the span dump location; return
    the result-line metrics."""
    layers = dict(outcome.layers)
    layers["session.start_s"] = tracer.totals("session.start")[0]
    for name, value in sorted(layers.items()):
        key = "mix.<query>_s" if name.startswith("mix.") else name
        moves, where = LAYER_MAP.get(key, ("self time", args.workload))
        print(json.dumps({"layer": name, "value": value, "moves": moves, "on": where}))
    trace_dir = ROOT / ".perfbench" / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    dump = trace_dir / f"{args.workload}-seed{args.seed}.json"
    dump.write_text(json.dumps(tracer.dump()))
    print(json.dumps({"spans": len(tracer.spans), "dump": str(dump.relative_to(ROOT))}))
    return {k: (layers[k], unit) for k, unit in RESULT_LAYERS.items()}


if __name__ == "__main__":
    sys.exit(main())
