"""sketchlib benchmark: one seeded workload per run, closed loop.

    python3 perfbench/run.py --workload sketch_table --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. Builds its inputs from ``--seed`` (cached
under ``perfbench/.cache``), starts a local Spark session on all cores,
runs the workload's passes back to back for ``--seconds``, checks the
outputs, and prints one JSON line last: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import NULL_TRACER, Ops, Tracer, closed_loop, median  # noqa: E402

WORKLOADS = {"sketch_table": "SketchTable",
             "dedup_join": "DedupJoin"}  # module name -> class


def _isolate(root: str, work_dir: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout,
    and let Spark's Python workers import sketchlib from it."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = root
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    os.environ.setdefault("SKETCHLIB_DRIVER_MEM", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, root)


def _stop() -> None:
    """Stop any Spark session and wait for the JVM it launched to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def untraced_run(wl, seconds: float) -> dict:
    """Set-up, then the closed loop: its first pass is the session's
    first run of each operator, as a user's job meets them. Then the
    checks."""
    phases = {}
    t0 = time.perf_counter()
    spark, setup_s = harness.setup(NULL_TRACER)
    phases["setup"] = time.perf_counter() - t0
    passes = closed_loop(lambda: wl.run_pass(spark, NULL_TRACER), seconds)
    phases["passes"] = time.perf_counter() - t0 - sum(phases.values())
    wl.checks()
    phases["checks"] = time.perf_counter() - t0 - sum(phases.values())
    metrics = wl.end_to_end(passes)
    metrics["setup_s"] = setup_s
    print(f"[perfbench] {wl.name}: phase seconds "
          f"{ {k: round(v, 1) for k, v in phases.items()} }, passes "
          f"{[{k: round(v, 2) for k, v in p.items()} for p in passes]}",
          file=sys.stderr)
    return metrics


def traced_run(wl, seconds: float, trace_path: str) -> dict:
    """Set-up; the first pass traced (pass id "warmup"); the untraced
    closed loop; one traced pass (its overhead is measured against the
    untraced passes); then the traced-only operators (the repeated
    read-out, the streaming sink), the checks and the Spark-free core
    timings."""
    tr = Tracer(enabled=True)
    spark, _ = harness.setup(tr)
    tr.pass_id = "warmup"
    with tr.span("pass"):
        wl.run_pass(spark, tr)
    tr.pass_id = None
    passes = closed_loop(lambda: wl.run_pass(spark, NULL_TRACER), seconds)
    tr.pass_id = 1
    t0 = time.perf_counter()
    with tr.span("pass"):
        wl.run_pass(spark, tr)
    traced_s = time.perf_counter() - t0
    tr.pass_id = None
    wl.traced_extras(spark, tr)
    wl.checks()
    from core_timings import core_timings
    core_timings(*wl.core_columns(), tr)
    tr.dump(trace_path)
    return layer_metrics(wl, tr, traced_s,
                         median([p["pass"] for p in passes]))


def layer_metrics(wl, tr, traced_s: float, untraced_s: float) -> dict:
    first, steady, after = tr.by_pass["warmup"], tr.by_pass[1], tr.by_pass[None]
    # plain counts (no plan-metric ":" keys) of the traced pass, and of
    # what runs outside the passes (session, stream, core)
    m = {k: v for c in (after, steady) for k, v in c.items() if ":" not in k}

    def arrow_rate(c):
        sent = sum(v for k, v in c.items()
                   if k.startswith("build.") and k.endswith(":pythonDataSent"))
        busy = sum(v for k, v in c.items()
                   if k.startswith("build.") and k.endswith(":pythonTotalTime"))
        return sent / 1e6 / busy if busy else 0.0

    def plan_sum(c, prefix, metric):
        return sum(v for k, v in c.items()
                   if k.startswith(prefix) and k.endswith(":" + metric))

    m["build.python_s"] = plan_sum(steady, "build.", "pythonTotalTime")
    m["build.merge_python_s"] = plan_sum(steady, "build.merge",
                                         "pythonTotalTime")
    m["build.arrow_sent_bytes"] = plan_sum(steady, "build.", "pythonDataSent")
    m["build.arrow_mb_per_s.first"] = arrow_rate(first)
    m["build.arrow_mb_per_s.steady"] = arrow_rate(steady)
    m["build.partials_rows"] = plan_sum(steady, "build.partials",
                                        "pythonNumRowsReceived")
    m["build.shuffle_bytes"] = plan_sum(steady, "build.", "shuffleBytesWritten")
    m["build.fetch_wait_s"] = plan_sum(steady, "build.", "fetchWaitTime")
    m["build.tasks"] = steady["build.tasks"]
    m["textops.shuffle_bytes"] = plan_sum(steady, "textops.",
                                          "shuffleBytesWritten")
    m["sqlfuncs.python_s"] = plan_sum(steady, "sqlfuncs", "pythonTotalTime")
    m["sqlfuncs.readout_s"] = median(wl.readout_s)
    for layer in harness.LAYERS:
        if layer != "core":
            m[f"{layer}.failed_tasks"] = sum(
                c[f"{layer}.failed_tasks"] for c in tr.by_pass.values())
    for layer, s in tr.self_times(exclude="warmup").items():
        if layer in harness.LAYERS:
            m[f"{layer}.self_s"] = s
    m["trace.overhead_s"] = traced_s - untraced_s
    m["trace.coverage"] = tr.coverage(1)
    m.update(wl.layers(tr, 1))
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "sketchlib")) or \
            not os.path.isfile(spec_path):
        print("perfbench: run from the root of a sketchlib checkout "
              "(sketchlib/ and BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    _isolate(root, work_dir)
    ops = Ops()
    t0 = time.perf_counter()
    module = importlib.import_module(args.workload)
    wl = getattr(module, WORKLOADS[args.workload])(args.seed, ops, work_dir)
    wl.prepare()
    print(f"[perfbench] inputs ready in {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    # about one scan task per core, as bench.py sizes its splits
    os.environ["SKETCHLIB_MAX_PARTITION_BYTES"] = str(
        max(1 << 20, wl.partition_bytes // harness.CPUS))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    try:
        if args.trace:
            values = traced_run(wl, args.seconds, os.path.join(
                HERE, "traces", f"{args.workload}-s{args.seed}.json"))
        else:
            values = untraced_run(wl, args.seconds)
            missing = [m["name"] for m in wanted if m["name"] not in values]
            if missing:
                raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    except Exception:
        # a failed op ends the run: report it as failed, not as a result
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": ops.attempted,
                          "failed": max(ops.failed, 1), "metrics": {}}))
        return 1
    finally:
        _stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": ops.failed == 0,
                      "attempted": ops.attempted, "failed": ops.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
