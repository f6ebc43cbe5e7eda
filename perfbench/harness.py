"""Shared benchmark machinery: the closed-loop timer, op accounting,
session set-up, and the tracer (spans plus executed-plan counts).

Spans are recorded by the benchmark's own code around calls into
sketchlib modules; the library itself is not instrumented. A span's
name is ``<layer>.<what>``, where the layer is the sketchlib module
that does the work (``build``, ``validate``, ``sqlfuncs``,
``streaming``, ``textops``, ``joinprune``, ``session``, ``core``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

CPUS = len(os.sched_getaffinity(0))  # local[nproc]
LAYERS = ("session", "build", "validate", "sqlfuncs", "streaming",
          "textops", "joinprune", "core")
# SQLMetric types -> factor to seconds / bytes / counts
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}
_PLAN_METRICS = {"pythonTotalTime", "pythonBootTime", "pythonDataSent",
                 "pythonNumRowsReceived", "shuffleBytesWritten",
                 "fetchWaitTime", "scanTime", "numOutputRows"}


def median(xs) -> float:
    return float(statistics.median(xs))


class Ops:
    """Attempted/failed op accounting shared by passes and checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def op(self, what: str):
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            print(f"[perfbench] op failed: {what}", file=sys.stderr)
            raise

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what} {detail}",
                  file=sys.stderr)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def closed_loop(run_pass, seconds: float) -> list[dict]:
    """One client: the next pass starts when the previous one ends.
    Runs at least one pass; returns each pass's per-op seconds."""
    passes = []
    end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < end:
        passes.append(run_pass())
    return passes


def run_stream(spark, tracer, ops, table, batches: int, work_dir: str,
               start) -> dict:
    """Stream ``table`` as ``batches`` parquet files, one file per
    micro-batch, through the query that ``start(stream_df)`` starts
    (an availableNow trigger), and summarize its per-batch progress.
    The first micro-batch starts the query's state from nothing, so
    the medians are over the later, steady-state batches."""
    import pyarrow.parquet as pq
    src = os.path.join(work_dir, "src")
    os.makedirs(src)
    n = table.num_rows // batches
    for i in range(batches):
        pq.write_table(table.slice(i * n, n), f"{src}/part-{i:03d}.parquet")
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    with ops.op("stream"), tracer.span("streaming.query"):
        query = start(stream)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
    tracer.count_stream_tasks(query)
    prog = [p for p in query.recentProgress if p.numInputRows > 0]
    if len(prog) != batches:
        raise RuntimeError(f"expected {batches} micro-batches, got {len(prog)}")
    steady = prog[1:]
    trig = [p.durationMs["triggerExecution"] / 1e3 for p in steady]
    add = [p.durationMs.get("addBatch", 0) / 1e3 for p in steady]
    return {"rows_per_s": median([p.numInputRows / t
                                  for p, t in zip(steady, trig)]),
            "batch_p50_s": median(trig), "addbatch_p50_s": median(add),
            "overhead_p50_s": median([t - a for t, a in zip(trig, add)])}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _d, files in os.walk(path) for f in files)


# ---------------------------------------------------------------- session

def start_session():
    from sketchlib.spark.session import attach_package, get_spark
    spark = get_spark("perfbench", cpus=CPUS)
    attach_package(spark)
    return spark


def setup(tracer) -> tuple[object, float]:
    """Session set-up as a user pays it once per session: get_spark
    (which launches the JVM), package attach, and a first sketch
    action, which boots the Python workers and imports sketchlib in
    them. Returns the session and the seconds."""
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_session()
    session_s = time.perf_counter() - t0
    if tracer.enabled:
        tracer.spark = spark
        tracer.counts["session.get_spark_s"] = session_s
    with tracer.span("session.worker_boot"):
        _worker_boot(spark, tracer)
    setup_s = time.perf_counter() - t0
    print(f"[perfbench] set-up {setup_s:.2f}s (get_spark {session_s:.2f}s)",
          file=sys.stderr)
    return spark, setup_s


def _worker_boot(spark, tracer) -> None:
    """A one-row-per-core HLL build, the session's first Python action;
    traced, its pythonBootTime."""
    from sketchlib.spark.build import build_sketches
    from sketchlib.spark.specs import SketchSpec
    rows = spark.range(CPUS, numPartitions=CPUS).selectExpr(
        "0 AS g", "CAST(id AS STRING) AS k")
    df = build_sketches(rows, ["g"], [SketchSpec("k_hll", "hll", "k")])
    df.collect()
    tracer.add("session.worker_boot_s", sum(
        v.get("pythonBootTime", 0.0) for _cls, v in plan_metrics(df)))


# ---------------------------------------------------------------- tracing

def plan_nodes(jplan):
    """Executed-plan nodes, looking through AQE wrappers and stages."""
    cls = jplan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from plan_nodes(jplan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from plan_nodes(jplan.plan())
        return
    yield jplan
    children = jplan.children()
    for i in range(children.size()):
        yield from plan_nodes(children.apply(i))


def plan_metrics(df) -> list[tuple[str, dict]]:
    """[(node class, {metric: value in s / bytes / count})] of the plan
    ``df`` last executed with."""
    out = []
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in _PLAN_METRICS:
                m = kv._2()
                vals[kv._1()] = m.value() * _UNIT.get(m.metricType(), 1.0)
        out.append((node.getClass().getSimpleName(), vals))
    return out


class Tracer:
    """Spans (name, start, end, parent, pass id) and per-layer counts,
    kept in memory and written out by ``dump``. Disabled, every method
    is a no-op, so untraced passes run the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        # counts per pass id: "warmup", the traced pass, None (after)
        self.by_pass = defaultdict(lambda: defaultdict(float))
        self.spark = None
        self.pass_id = None
        self._stack: list[int] = []

    @property
    def counts(self) -> dict[str, float]:
        return self.by_pass[self.pass_id]

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext if self.spark is not None else None
        group = f"perfbench-{idx}"
        if sc is not None:
            sc.setJobGroup(group, name)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent,
                           "pass": self.pass_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None and self.spark.sparkContext is sc:
                self._count_tasks(sc, group, name.split(".")[0])
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent}",
                                   self.spans[parent]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def _count_tasks(self, sc, group: str, layer: str) -> None:
        st = sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            job = st.getJobInfo(jid)
            for sid in (job.stageIds if job else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    self.counts[f"{layer}.tasks"] += stage.numTasks
                    self.counts[f"{layer}.failed_tasks"] += \
                        stage.numFailedTasks

    def count_stream_tasks(self, query) -> None:
        """Streaming jobs run under the query's own job group (its run
        id), not under the span that started the query."""
        if self.enabled:
            self._count_tasks(self.spark.sparkContext, str(query.runId),
                              "streaming")

    def plan(self, df, prefix: str) -> None:
        """Add the executed-plan counts of ``df`` as ``prefix:metric``."""
        if not self.enabled:
            return
        for _cls, vals in plan_metrics(df):
            for k, v in vals.items():
                if k != "numOutputRows":
                    self.counts[f"{prefix}:{k}"] += v

    def add(self, key: str, value: float) -> None:
        if self.enabled:
            self.counts[key] += value

    # -- reporting -----------------------------------------------------
    def self_times(self, exclude=None) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's,
        over the spans of every pass but ``exclude``."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["pass"] != exclude:
                out[s["name"].split(".")[0]] += (s["end"] - s["start"]
                                                 - child[i])
        return out

    def coverage(self, pass_id) -> float:
        """Share of the pass span's wall time covered by layer spans."""
        roots = [i for i, s in enumerate(self.spans)
                 if s["name"] == "pass" and s["pass"] == pass_id]
        if not roots:
            return 0.0
        r = self.spans[roots[0]]
        covered = sum(s["end"] - s["start"] for s in self.spans
                      if s["parent"] == roots[0])
        return covered / (r["end"] - r["start"])

    def span_seconds(self, name: str, pass_id) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["pass"] == pass_id)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans,
                       "counts": {str(k): v for k, v in self.by_pass.items()}},
                      f, indent=1)


NULL_TRACER = Tracer(enabled=False)
