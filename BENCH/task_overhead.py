"""Per-task fixed cost of the Python boundary.

Runs a no-op 8-partition ``mapInPandas`` job and its JVM-only twin
(the same ``spark.range`` through a plain projection) in a session from
``sketchlib.spark.session.get_spark``, then reads every task's
``Executor Run Time`` from a throwaway uncompressed Spark event log and
prints the median per job kind. One warm-up round runs first, so Python
worker boot is not counted.

Run from the repository root:

    python BENCH/task_overhead.py [--rounds 5]

(env SPARK_GRAFT_CPUS, default 4). The last line of standard output is
one JSON object with both medians in milliseconds and their task counts.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("PYTHONPATH", REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
PARTITIONS = 8


def _run_times(log_dir: str) -> dict:
    """{job description: [executor run time ms per task]} from the one
    event log file in ``log_dir``."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_label: dict = {}
    times: dict = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(
                    "spark.job.description")
                for sid in ev["Stage IDs"]:
                    stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if label and metrics:
                    times.setdefault(label, []).append(
                        metrics["Executor Run Time"])
    return times


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rounds", type=int, default=5,
                    help="timed rounds of each job (default 5)")
    args = ap.parse_args()
    log_dir = tempfile.mkdtemp(prefix="sketchlib_eventlog_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false pyspark-shell")
    from sketchlib.spark.session import get_spark
    spark = get_spark("task-overhead", cpus=CPUS)
    sc = spark.sparkContext
    try:
        base = spark.range(PARTITIONS, numPartitions=PARTITIONS)
        jobs = {"python": base.mapInPandas(lambda it: it, base.schema),
                "jvm": base.selectExpr("id")}
        for rnd in range(args.rounds + 1):
            for name, df in jobs.items():
                sc.setJobDescription(f"{name}:{rnd}")
                df.write.format("noop").mode("overwrite").save()
        sc.setJobDescription(None)
    finally:
        spark.stop()  # flushes the event log
    try:
        times = _run_times(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    out = {}
    for name in jobs:
        ms = [t for label, ts in times.items() if label.startswith(name + ":")
              and label != f"{name}:0" for t in ts]
        out[f"{name}_task_ms_median"] = statistics.median(ms)
        out[f"{name}_tasks"] = len(ms)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
